package graft

import java.nio.charset.{Charset, StandardCharsets}
import java.nio.file.{Files, Path}

import graft.mef._
import graft.sources.CsvIngest

/** End-to-end MEF pipeline on the FIXTURES.md §A trap-row fixture:
  * every semantic trap from SURVEY.md §7.4 asserted with hand-computed
  * expectations.
  */
class MefPipelineSpec extends SparkSuite {
  import MefFixture.{header, rows}

  private def csvText: String =
    (header.map(h => "\"" + h + "\"").mkString(",") +:
      rows.map(_.map(v => "\"" + v + "\"").mkString(","))).mkString("\n")

  private def writeFixture(name: String, charset: Charset, bom: Boolean = false): Path = {
    val dir = Files.createTempDirectory("mef_fixture")
    val p = dir.resolve(name)
    val body = (if (bom) "﻿" else "") + csvText
    Files.write(p, body.getBytes(charset))
    p
  }

  private lazy val star = {
    val p = writeFixture("2024-Gasto-Mensual.csv", StandardCharsets.UTF_8)
    MefPipeline.buildFromCsv(spark, Seq(p.toString))
  }

  test("star build: P3 drops invalid time rows, A1 consolidates grain") {
    assert(star.fact.count() == 3) // r1+r2 merged; r3, r4 dropped
    assert(star.dimTiempo.count() == 252)
  }

  test("dims: cleaned before dedup (§7.4.6), deterministic attributes") {
    val ej = star.dims("dim_ejecutora").collect()
    assert(ej.length == 2)
    val e1 = ej.find(r => r.getAs[String]("ejecutora_codigo") == "E1").get
    assert(e1.getAs[String]("ejecutora_nombre") == "Hospital Central")
    val ng = star.dims("dim_nivel_gobierno").collect()
    assert(ng.length == 1, "whitespace-collapsed nivel dedups to one row")
    assert(ng(0).getAs[String]("nivel_gobierno_nombre") == "GOBIERNO NACIONAL")
  }

  test("A4 ytd by sector: month cutoff + coerced-null measure → 0") {
    val ytd1 = Analytics.ytdDevengadoPorSector(star, 2024, 1).collect()
    assert(ytd1.map(r => r.getString(0) -> r.getDouble(1)).toMap == Map("SALUD" -> 75.0))
    val ytd2 = Analytics.ytdDevengadoPorSector(star, 2024, 2).collect()
    assert(ytd2.map(r => r.getString(0) -> r.getDouble(1)).toMap ==
      Map("SALUD" -> 85.0, "" -> 0.0))
  }

  test("A4 running-window variant: cumulative equals per-cutoff re-aggregation") {
    val run = Analytics.ytdAcumuladoMensual(star, 2024)
      .filter(org.apache.spark.sql.functions.col("sector_nombre") === "SALUD").collect()
    assert(run.map(r => (r.getAs[Int]("mes"), r.getAs[Double]("devengado_ytd"))).toSeq ==
      Seq((1, 75.0), (2, 85.0)))
  }

  test("A5 top ejecutoras") {
    val top = Analytics.topEjecutorasPorDevengado(star, 2024).collect()
    assert(top.head.getString(0) == "Hospital Central" && top.head.getDouble(1) == 85.0)
  }

  test("A6 participacion: single unit takes share 1.0") {
    val p = Analytics.participacionPorEjecutora(star, 2024, 2, "SALUD").collect()
    assert(p.length == 1 && p(0).getDouble(2) == 1.0)
  }

  test("A7 backlog: HAVING>0, ordered desc") {
    val b = Analytics.pendientePorEjecutar(star, 2024, 2).collect()
    val byEsp = b.map(r => r.getString(0) -> r.getAs[Double]("backlog")).toMap
    assert(byEsp == Map("ES2" -> 30.0, "ES1" -> 25.0))
    assert(b.head.getString(0) == "ES2", "largest backlog first")
  }

  test("A8 evolucion trimestral") {
    val e = Analytics.evolucionTrimestral(star, 2024, 2024).collect()
    assert(e.length == 1)
    assert(e(0).getAs[Double]("dev_trimestral") == 85.0)
  }

  test("views: F8 placeholder buckets, conformance injected/dropped cols") {
    val vm = Views.vwGastoMensual(star)
    assert(!vm.columns.contains("COLUMNA_EXTRA"))
    assert(vm.columns.contains("meta_nombre")) // injected as null (P2)
    assert(vm.count() == 3)
    val agg = Views.vwGastoAgregadoMensual(star).collect()
    val sectors = agg.map(_.getAs[String]("sector_nombre")).toSet
    assert(sectors == Set("SALUD", "SIN SECTOR"))
    val sinSector = agg.filter(_.getAs[String]("sector_nombre") == "SIN SECTOR")
    assert(sinSector.map(_.getAs[Double]("comprometido")).sum == 30.0)
    assert(sinSector.head.getAs[String]("region_mapa") == "Departamento de San Martín, Perú")
  }

  test("S1 encoding fallback: latin-1 bytes decode correctly") {
    val p = writeFixture("2024-Gasto-Mensual.csv", Charset.forName("ISO-8859-1"))
    val raw = CsvIngest(spark, p.toString)
    val deps = raw.select("DEPARTAMENTO_EJECUTORA_NOMBRE").collect().map(_.getString(0)).toSet
    assert(deps.contains("San Martín"))
  }

  test("S1 utf-8-sig: BOM stripped from first header") {
    val p = writeFixture("2024-Gasto-Mensual.csv", StandardCharsets.UTF_8, bom = true)
    val raw = CsvIngest(spark, p.toString)
    assert(raw.columns.head == " ano_eje ")
  }

  /** A UTF-8 fixture CSV of the header and `rs`; its path. */
  private def fixtureOf(rs: Seq[Seq[String]]): String = {
    val dir = Files.createTempDirectory("mef_rows")
    val p = dir.resolve("2024-Gasto-Mensual.csv")
    val body = (header.map(h => "\"" + h + "\"").mkString(",") +:
      rs.map(_.map(v => "\"" + v + "\"").mkString(","))).mkString("\n")
    Files.write(p, body.getBytes(StandardCharsets.UTF_8))
    p.toString
  }

  test("incremental append ≡ full rebuild; ids preserved; re-delivery + conflicts no-op") {
    // batch1 = month 1 + the invalid-time rows; batch2 = month 2
    val s1 = MefPipeline.buildFromCsv(spark, Seq(fixtureOf(rows.take(4))))
    val batch2 = Normalize(MefPipeline.transform(spark, Seq(fixtureOf(rows.drop(4)))))
    val inc = Star.append(spark, s1, batch2)

    // same observable warehouse as the one-shot build
    assert(inc.fact.count() == star.fact.count())
    def a4(s: Star.StarSchema) = Analytics.ytdDevengadoPorSector(s, 2024, 2)
      .collect().map(r => r.getString(0) -> r.getDouble(1)).toMap
    assert(a4(inc) == a4(star))

    // ON CONFLICT DO NOTHING id semantics: E1 keeps its batch1 id,
    // E2 (new) continues above the current max
    def ejIds(s: Star.StarSchema) = s.dims("dim_ejecutora").collect()
      .map(r => r.getAs[String]("ejecutora_codigo") -> r.getAs[Int]("ejecutora_id")).toMap
    val before = ejIds(s1)
    val after = ejIds(inc)
    assert(after("E1") == before("E1"), "existing surrogate ids survive the append")
    assert(after("E2") == before.values.max + 1, "new keys get SERIAL-style next ids")

    // crash-resume: re-delivering the same batch changes nothing
    val again = Star.append(spark, inc, batch2)
    assert(again.fact.count() == inc.fact.count())
    assert(ejIds(again) == after)

    // attribute conflict on an existing key: first-loaded attrs win,
    // duplicate grain rows are dropped (8-FK unique, DO NOTHING)
    val renamed = rows(5).updated(6, "RENAMED HOSPITAL")
    val conflict = Normalize(MefPipeline.transform(spark, Seq(fixtureOf(Seq(renamed)))))
    val s3 = Star.append(spark, again, conflict)
    assert(s3.fact.count() == inc.fact.count(), "existing grain row not re-inserted")
    val e1 = s3.dims("dim_ejecutora").collect()
      .find(_.getAs[String]("ejecutora_codigo") == "E1").get
    assert(e1.getAs[String]("ejecutora_nombre") == "Hospital Central",
      "first-insert attributes win on conflict")
  }

  test("§2.11: warehouse constraints validate clean on the built star, catch corruption") {
    val v = Validate.validate(spark, star)
    assert(v.count() == 2 + 7 + 1 + 14, "every declared constraint is checked")
    assert(Validate.holds(spark, star), v.collect().mkString("\n"))
    // corrupt: duplicate a fact grain row -> unique_8fk_grain must trip
    val corrupted = star.copy(fact = star.fact.unionAll(star.fact.limit(1)))
    val bad = Validate.validate(spark, corrupted)
      .filter(org.apache.spark.sql.functions.col("violations") > 0).collect()
    assert(bad.map(_.getString(1)).toSet == Set("unique_8fk_grain"))
    // corrupt: dangling FK id -> referential check must trip
    val dangling = star.copy(fact = star.fact.withColumn("ejecutora_id",
      org.apache.spark.sql.functions.lit(999999)))
    assert(!Validate.holds(spark, dangling))
  }

  /** The 24 constraints in Validate's order, each with `violations`
    * (default 0).
    */
  private def expectedChecks(violations: (String, Long)*): Seq[(String, String, Long)] = {
    val fact = "fact_gasto_mensual"
    val dims = Seq(
      "dim_nivel_gobierno" -> "nivel_gobierno_id", "dim_ejecutora" -> "ejecutora_id",
      "dim_programatica" -> "programatica_id", "dim_funcional" -> "funcional_id",
      "dim_meta" -> "meta_id", "dim_financiera" -> "financiera_id",
      "dim_clasificador_gasto" -> "clasif_gasto_id")
    val names =
      Seq(fact -> "unique_8fk_grain", fact -> "fk_not_null") ++
        dims.map { case (d, id) => fact -> s"fk_${id}_references_$d" } ++
        Seq(fact -> "fk_tiempo_id_references_dim_tiempo") ++
        dims.flatMap { case (d, id) => Seq(d -> s"pk_${id}_unique", d -> "natural_key_unique") }
    val v = violations.toMap
    names.map { case (t, c) => (t, c, v.getOrElse(s"$t.$c", 0L)) }
  }

  private def validateRows(s: Star.StarSchema): Seq[(String, String, Long)] =
    Validate.validate(spark, s).collect().toSeq.map(r => (r.getString(0), r.getString(1), r.getLong(2)))

  /** Test-only reference: the 24 checks as 24 separate frames, one
    * plan per check (Validate's earlier form), tagged and counted by
    * one union. Validate's stacked shapes must give the same rows.
    */
  private def referenceRows(star: Star.StarSchema): Seq[(String, String, Long)] = {
    import org.apache.spark.sql.DataFrame
    import org.apache.spark.sql.functions.{col, lit}

    def dupGroups(df: DataFrame, cols: Seq[String]): DataFrame =
      df.groupBy(cols.map(col): _*).count().filter(col("count") > 1)

    def dangling(fk: String, dim: DataFrame): DataFrame =
      star.fact.select(col(fk)).join(dim.select(col(fk)), Seq(fk), "left_anti")

    val factChecks = Seq(
      ("fact_gasto_mensual", "unique_8fk_grain", dupGroups(star.fact, MefSchema.factFks)),
      ("fact_gasto_mensual", "fk_not_null",
        star.fact.filter(MefSchema.factFks.map(col(_).isNull).reduce(_ || _))))
    val fkIntegrity = MefSchema.dims.map { spec =>
      ("fact_gasto_mensual", s"fk_${spec.id}_references_${spec.name}",
        dangling(spec.id, star.dims(spec.name)))
    } :+ ("fact_gasto_mensual", "fk_tiempo_id_references_dim_tiempo",
      dangling("tiempo_id", star.dimTiempo))
    val dimChecks = MefSchema.dims.flatMap { spec =>
      val d = star.dims(spec.name)
      Seq(
        (spec.name, s"pk_${spec.id}_unique", dupGroups(d, Seq(spec.id))),
        (spec.name, "natural_key_unique", dupGroups(d, spec.keys)))
    }

    val checks = (factChecks ++ fkIntegrity ++ dimChecks).zipWithIndex
    val violations = checks
      .map { case ((_, _, rows), i) => rows.select(lit(i).as("check")) }
      .reduce(_ union _)
      .groupBy("check").count()
      .collect().map(r => r.getInt(0) -> r.getLong(1)).toMap
    checks.map { case ((table, constraint, _), i) => (table, constraint, violations.getOrElse(i, 0L)) }
  }

  /** Validate's rows equal the reference's, and the expected ones. */
  private def assertValidates(s: Star.StarSchema, expected: Seq[(String, String, Long)]): Unit = {
    val got = validateRows(s)
    assert(got == referenceRows(s), "stacked shapes vs per-check reference")
    assert(got == expected)
  }

  test("§2.11: Validate's full 24-row output is exact on clean and corrupted stars") {
    import org.apache.spark.sql.functions.{col, lit, min, when}
    assertValidates(star, expectedChecks())
    // k duplicated grain rows: k duplicate groups
    val k = 2
    assertValidates(star.copy(fact = star.fact.unionAll(star.fact.limit(k))),
      expectedChecks("fact_gasto_mensual.unique_8fk_grain" -> k))
    // every fact row dangling on ejecutora_id
    assertValidates(star.copy(fact = star.fact.withColumn("ejecutora_id", lit(999999))),
      expectedChecks("fact_gasto_mensual.fk_ejecutora_id_references_dim_ejecutora" -> 3))
    // one null FK counts under fk_not_null AND under that FK's anti-join
    val first = star.fact.agg(min(col("tiempo_id"))).head.getInt(0)
    val nullMeta = star.fact.withColumn("meta_id",
      when(col("tiempo_id") === first, lit(null).cast("int")).otherwise(col("meta_id")))
    assertValidates(star.copy(fact = nullMeta), expectedChecks(
      "fact_gasto_mensual.fk_not_null" -> 1,
      "fact_gasto_mensual.fk_meta_id_references_dim_meta" -> 1))
    // one duplicated dim row breaks both of its dim's uniques
    val ej = star.dims("dim_ejecutora")
    val dupDim = star.copy(dims = star.dims.updated("dim_ejecutora", ej.unionAll(ej.limit(1))))
    assertValidates(dupDim, expectedChecks(
      "dim_ejecutora.pk_ejecutora_id_unique" -> 1,
      "dim_ejecutora.natural_key_unique" -> 1))
  }

  test("Validate: double keys group as groupBy does (-0.0 = 0.0, NaN = NaN)") {
    import org.apache.spark.sql.functions.col
    import spark.implicits._
    // four new rows under fresh ids, equal to an existing row's keys but
    // tipo_transaccion: {-0.0, 0.0} and {NaN, NaN} are two duplicate groups
    val cg = star.dims("dim_clasificador_gasto")
    val traps = Seq((101, -0.0), (102, 0.0), (103, Double.NaN), (104, Double.NaN)).toDF("_id", "_t")
    val extra = cg.limit(1).crossJoin(traps)
      .withColumn("clasif_gasto_id", col("_id")).withColumn("tipo_transaccion", col("_t"))
      .select(cg.columns.map(col): _*)
    assert(extra.collect().map(_.getAs[Double]("tipo_transaccion")).count(_.equals(-0.0)) == 1,
      "the -0.0 survives into the dim")
    assertValidates(star.copy(dims = star.dims.updated("dim_clasificador_gasto", cg.unionAll(extra))),
      expectedChecks("dim_clasificador_gasto.natural_key_unique" -> 2))
  }

  test("Validate: null natural keys group together; a shared id with distinct keys") {
    import org.apache.spark.sql.functions.{col, lit, when}
    // two rows whose natural key is null, under fresh ids: one key group
    val ng = star.dims("dim_nivel_gobierno")
    val nullKeys = ng.limit(1).crossJoin(spark.range(2).toDF("_i"))
      .withColumn("nivel_gobierno_id", (col("_i") + 50).cast("int"))
      .withColumn("nivel_gobierno_codigo", lit(null).cast("string"))
      .select(ng.columns.map(col): _*)
    assertValidates(star.copy(dims = star.dims.updated("dim_nivel_gobierno", ng.unionAll(nullKeys))),
      expectedChecks("dim_nivel_gobierno.natural_key_unique" -> 1))
    // E2 takes E1's id: one pk group, keys still distinct, and the fact
    // rows that referenced E2's id now dangle
    val ej = star.dims("dim_ejecutora")
    val e1 = ej.filter(col("ejecutora_codigo") === "E1").head.getAs[Int]("ejecutora_id")
    val shared = ej.withColumn("ejecutora_id", lit(e1))
    val dangling = star.fact.filter(col("ejecutora_id") =!= e1).count()
    assert(dangling == 1)
    assertValidates(star.copy(dims = star.dims.updated("dim_ejecutora", shared)), expectedChecks(
      "fact_gasto_mensual.fk_ejecutora_id_references_dim_ejecutora" -> dangling,
      "dim_ejecutora.pk_ejecutora_id_unique" -> 1))
  }

  /** The actions `body` runs on this session, in order: name and query. */
  private def queriesOf(body: => Unit): Seq[(String, org.apache.spark.sql.execution.QueryExecution)] = {
    import org.apache.spark.ListenerBusDrain
    import org.apache.spark.sql.execution.QueryExecution
    import org.apache.spark.sql.util.QueryExecutionListener
    val runs = new java.util.concurrent.ConcurrentLinkedQueue[(String, QueryExecution)]()
    val listener = new QueryExecutionListener {
      def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = runs.add(funcName -> qe)
      def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit = runs.add(funcName -> qe)
    }
    ListenerBusDrain.drain(spark.sparkContext)
    spark.listenerManager.register(listener)
    try { body; ListenerBusDrain.drain(spark.sparkContext) }
    finally spark.listenerManager.unregister(listener)
    runs.toArray(Array.empty[(String, QueryExecution)]).toSeq
  }

  /** Names of the actions `body` runs on this session, in order. */
  private def actionsOf(body: => Unit): Seq[String] = queriesOf(body).map(_._1)

  /** Stages `body` completes on this session. */
  private def stagesOf(body: => Unit): Int = {
    import org.apache.spark.ListenerBusDrain
    import org.apache.spark.scheduler.{SparkListener, SparkListenerStageCompleted}
    val stages = new java.util.concurrent.atomic.AtomicInteger
    val listener = new SparkListener {
      override def onStageCompleted(e: SparkListenerStageCompleted): Unit = stages.incrementAndGet()
    }
    ListenerBusDrain.drain(spark.sparkContext)
    spark.sparkContext.addSparkListener(listener)
    try { body; ListenerBusDrain.drain(spark.sparkContext) }
    finally spark.sparkContext.removeSparkListener(listener)
    stages.get
  }

  test("tripwire: Validate.validate runs exactly one action") {
    val built = star // built outside the listener window
    val validated = actionsOf(Validate.validate(spark, built))
    assert(validated == Seq("collect"), s"Validate ran ${validated.size} actions: $validated")
  }

  test("tripwire: Validate.validate runs at most 6 stages (25 as one plan per check)") {
    val built = star
    val stages = stagesOf(Validate.validate(spark, built))
    assert(stages <= 6, s"Validate ran $stages stages")
  }

  test("tripwire: Star.build runs no count") {
    val p = writeFixture("2024-Gasto-Mensual.csv", StandardCharsets.UTF_8)
    val normalized = Normalize(MefPipeline.transform(spark, Seq(p.toString)))
    val building = actionsOf(Star.build(spark, normalized))
    assert(!building.contains("count"), s"Star.build actions: $building")
  }

  test("empty input: no rows past P3, or an empty CSV, build an empty star that validates") {
    val allInvalid = fixtureOf(rows.slice(2, 4)) // r3, r4: invalid time
    val empty = {
      val p = Files.createTempDirectory("mef_empty").resolve("2024-Gasto-Mensual.csv")
      Files.write(p, Array.emptyByteArray)
      p.toString
    }
    for (csv <- Seq(allInvalid, empty)) {
      val normalized = Normalize(MefPipeline.transform(spark, Seq(csv)))
      var built: Star.StarSchema = null
      val building = queriesOf { built = Star.build(spark, normalized) }
      // the grain's row count is observed on the checkpoint's own query
      val observed = building.flatMap(_._2.observedMetrics.get("grain")).map(_.getAs[Long]("rows"))
      assert(observed == Seq(0L), csv)
      assert(built.fact.count() == 0 && built.dims.values.forall(_.count() == 0), csv)
      assert(validateRows(built) == expectedChecks(), csv)
      assert(Validate.holds(spark, built), csv)
    }
  }

  test("no CSV paths: transform and buildFromCsv fail naming the empty path list") {
    for (run <- Seq(() => MefPipeline.transform(spark, Nil),
        () => MefPipeline.buildFromCsv(spark, Nil))) {
      val e = intercept[IllegalArgumentException](run())
      assert(e.getMessage.contains("the CSV path list is empty"), e.getMessage)
    }
  }

  /** Each dim's recorded row count is its row count and its max id. */
  private def assertRowsKnown(s: Star.StarSchema, what: String): Unit =
    MefSchema.dims.foreach { spec =>
      import org.apache.spark.sql.functions.{col, count, lit, max}
      val r = s.dims(spec.name).agg(count(lit(1)), max(col(spec.id))).head
      assert(s.rows(spec.name) == r.getLong(0), s"$what: ${spec.name} rows")
      assert(s.rows(spec.name) == r.getInt(1), s"$what: ${spec.name} max id")
    }

  test("the star knows each dim's size: rows == count == max id across loads") {
    import scala.concurrent.{Await, Future}
    import scala.concurrent.ExecutionContext.Implicits.global
    import scala.concurrent.duration._
    def batch(rs: Seq[Seq[String]]) = Normalize(MefPipeline.transform(spark, Seq(fixtureOf(rs))))
    val built = Star.build(spark, batch(rows.take(2)))
    assertRowsKnown(built, "build")
    val appended = Star.append(spark, Star.append(spark, built, batch(rows.slice(4, 5))), batch(rows.drop(5)))
    assertRowsKnown(appended, "two appends")
    assert(appended.rows("dim_ejecutora") == 2)
    val redelivered = Star.append(spark, appended, batch(rows.slice(4, 5)))
    assertRowsKnown(redelivered, "re-delivery")
    assert(redelivered.rows == appended.rows)
    // every row fails P3: each delta is empty, and its observation still arrives
    val noRows = Await.result(Future(Star.append(spark, redelivered, batch(rows.slice(2, 4)))), 5.minutes)
    assertRowsKnown(noRows, "no valid rows")
    assert(noRows.rows == appended.rows && noRows.fact.count() == appended.fact.count())
  }

  test("tripwire: Star.append plans no nested-loop join and no aggregate over the existing dims") {
    import org.apache.spark.sql.catalyst.plans.logical.Aggregate
    import org.apache.spark.sql.execution.LogicalRDD
    val s1 = MefPipeline.buildFromCsv(spark, Seq(fixtureOf(rows.take(4))))
    val batch2 = Normalize(MefPipeline.transform(spark, Seq(fixtureOf(rows.drop(4)))))
    val existing = s1.dims.values.flatMap(_.queryExecution.logical.collect { case l: LogicalRDD => l.rdd.id }).toSet
    val appending = queriesOf(Star.append(spark, s1, batch2))
    assert(appending.size >= 9, s"grain, 7 deltas and the fact: ${appending.map(_._1)}")
    appending.foreach { case (name, qe) =>
      val plan = qe.executedPlan.toString
      assert(!plan.contains("BroadcastNestedLoopJoin"), s"$name:\n$plan")
      val overDims = qe.optimizedPlan.collect {
        case a: Aggregate if a.collectLeaves().forall {
          case l: LogicalRDD => existing(l.rdd.id)
          case _ => false
        } => a
      }
      assert(overDims.isEmpty, s"$name aggregates the existing dims:\n${qe.optimizedPlan}")
    }
  }

  test("§2.11: column docs ride StructField metadata through Normalize") {
    val p = writeFixture("2024-Gasto-Mensual.csv", StandardCharsets.UTF_8)
    val n = Normalize(Transform(CsvIngest(spark, p.toString)))
    val dev = n.schema("monto_devengado").metadata
    assert(dev.contains("comment") && dev.getString("comment").contains("devengado"))
    assert(n.schema("nivel_gobierno_codigo").metadata.getString("comment")
      .contains("E=national"))
    assert(!n.schema("meta_nombre").metadata.contains("comment"),
      "undocumented columns carry no comment key")
  }

  test("chained monthly appends ≡ one-shot build (testdata, 6 loads)") {
    import org.apache.spark.sql.functions.col
    val dir = "/root/testdata/sf0.001"
    val typed = Transform(
      graft.queries.MefStarQueries.syntheticRaw(spark, dir))
      .filter(col("ANO_EJE") === 2017 && col("MES_EJE") <= 6)
      .localCheckpoint()
    val full = Star.build(spark, Normalize(typed))
    val chained = (2 to 6).foldLeft(
      Star.build(spark, Normalize(typed.filter(col("MES_EJE") === 1)))) {
      (s, m) => Star.append(spark, s, Normalize(typed.filter(col("MES_EJE") === m)))
    }
    assert(chained.fact.count() == full.fact.count())
    def a4(s: Star.StarSchema) = Analytics.ytdDevengadoPorSector(s, 2017, 6)
      .collect().map(r => r.getString(0) -> r.getDouble(1)).toMap
    assert(a4(chained) == a4(full))
    def dimKeys(s: Star.StarSchema) = s.dims("dim_ejecutora").collect()
      .map(_.getAs[String]("ejecutora_codigo")).toSet
    assert(dimKeys(chained) == dimKeys(full))
  }

  test("determinism: rebuilding the star yields identical fact + ids (§7.4.1/2)") {
    val p = writeFixture("2024-Gasto-Mensual.csv", StandardCharsets.UTF_8)
    val s1 = MefPipeline.buildFromCsv(spark, Seq(p.toString))
    val s2 = MefPipeline.buildFromCsv(spark, Seq(p.toString))
    def dump(s: graft.mef.Star.StarSchema) = {
      val fact = s.fact.collect().map(_.toString).sorted.toSeq
      val ej = s.dims("dim_ejecutora").collect().map(_.toString).sorted.toSeq
      (fact, ej)
    }
    assert(dump(s1) == dump(s2), "surrogate ids / grain rows must be run-stable")
  }

  test("multi-year ingest → year-partitioned sink → partition pruning") {
    val p2024 = writeFixture("2024-Gasto-Mensual.csv", StandardCharsets.UTF_8)
    // second year: same rows shifted to 2025
    val dir25 = Files.createTempDirectory("mef_2025")
    val p2025 = dir25.resolve("2025-Gasto-Mensual.csv")
    Files.write(p2025, csvText.replace("\"2024\"", "\"2025\"").getBytes(StandardCharsets.UTF_8))

    val t = MefPipeline.transform(spark, Seq(p2024.toString, p2025.toString))
    assert(t.select("ANO_EJE").distinct().count() == 2, "U1 union across years")

    val out = Files.createTempDirectory("mef_parquet").toString
    graft.sources.ParquetSink.writeYearly(t, out, overwrite = true)
    // idempotency: mode ignore skips existing output (S2 contract)
    graft.sources.ParquetSink.writeYearly(t.limit(0), out)
    val back = spark.read.parquet(out)
    assert(back.count() == t.count())

    val pruned = back.filter(org.apache.spark.sql.functions.col("ANO_EJE") === 2025)
    val scan = pruned.queryExecution.executedPlan.toString
    assert(scan.contains("PartitionFilters: [isnotnull(ANO_EJE"),
      s"year predicate must prune partitions:\n$scan")
    assert(pruned.count() == 4)
  }

  test("S1+P3: garbage rows conformed to nulls at scan, dropped by validity filter") {
    // Spark's all-string CSV scan conforms token-count mismatches
    // (missing→null, extra→dropped) instead of flagging them malformed —
    // the defensive layer that removes garbage is P3, exactly the
    // belt-and-braces the reference also applies
    // (`etl/transformar_mensual.py:149` after `on_bad_lines="skip"`).
    val dir = Files.createTempDirectory("mef_malformed")
    val p = dir.resolve("2024-Gasto-Mensual.csv")
    val body = csvText + "\n" + Seq.fill(3)("\"junk\"").mkString(",")
    Files.write(p, body.getBytes(StandardCharsets.UTF_8))
    val raw = CsvIngest(spark, p.toString)
    assert(raw.count() == 7, "scan conforms, keeps the junk row as nulls")
    val cleaned = Transform(raw)
    assert(cleaned.count() == 4, "P3 drops junk + the two invalid-time rows")
  }

  test("P9 filename predicate") {
    assert(CsvIngest.acceptFile("2024-Gasto-Mensual.csv").contains(2024))
    assert(CsvIngest.acceptFile("2019-Gasto.csv").contains(2019))
    assert(CsvIngest.acceptFile("2024-Gasto-Diario.csv").isEmpty)
    assert(CsvIngest.acceptFile("notas.csv").isEmpty)
  }
}

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

  private val header = Seq(
    " ano_eje ", "mes_eje", "NIVEL_GOBIERNO", "nivel_gobierno_nombre",
    "SEC_EJEC", "EJECUTORA", "ejecutora_nombre", "SECTOR", "SECTOR_NOMBRE",
    "PLIEGO", "PLIEGO_NOMBRE", "DEPARTAMENTO_EJECUTORA_NOMBRE",
    "FUENTE_FINANCIAMIENTO", "FUENTE_FINANCIAMIENTO_NOMBRE",
    "ESPECIFICA", "ESPECIFICA_NOMBRE",
    "MONTO_COMPROMETIDO", "monto_devengado", "MONTO_PIM", "COLUMNA_EXTRA")

  // grain traps: r1+r2 same grain (summed); r3/r4 invalid time (dropped);
  // r5 blank sector + unparseable devengado; r6 second month same unit.
  private val rows = Seq(
    Seq("2024", "1", "E", "GOBIERNO   NACIONAL", "001", "E1", "  Hospital   Central  ",
      "01", "SALUD", "P1", "Pliego Salud", "San Martín", "F1", "RECURSOS ORDINARIOS",
      "ES1", "Personal", "80", "50", "200", "ignoreme"),
    Seq("2024", "1", "E", "GOBIERNO NACIONAL", "001", "E1", "Hospital Central",
      "01", "SALUD", "P1", "Pliego Salud", "San Martín", "F1", "RECURSOS ORDINARIOS",
      "ES1", "Personal", "20", "25", "100", "x"),
    Seq("2024", "13", "E", "GOBIERNO NACIONAL", "001", "E1", "Hospital Central",
      "01", "SALUD", "P1", "Pliego Salud", "San Martín", "F1", "RECURSOS ORDINARIOS",
      "ES1", "Personal", "1", "1", "1", "y"),
    Seq("0", "1", "E", "GOBIERNO NACIONAL", "001", "E1", "Hospital Central",
      "01", "SALUD", "P1", "Pliego Salud", "San Martín", "F1", "RECURSOS ORDINARIOS",
      "ES1", "Personal", "1", "1", "1", "y"),
    Seq("2024", "2", "E", "GOBIERNO NACIONAL", "002", "E2", "Clinica Sur",
      "02", "   ", "P2", "", "San Martín", "F1", "RECURSOS ORDINARIOS",
      "ES2", "Bienes", "30", "abc", "50", "z"),
    Seq("2024", "2", "E", "GOBIERNO NACIONAL", "001", "E1", "Hospital Central",
      "01", "SALUD", "P1", "Pliego Salud", "San Martín", "F1", "RECURSOS ORDINARIOS",
      "ES1", "Personal", "10", "10", "40", "w"))

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

  test("incremental append ≡ full rebuild; ids preserved; re-delivery + conflicts no-op") {
    def fixtureOf(rs: Seq[Seq[String]]): String = {
      val dir = Files.createTempDirectory("mef_inc")
      val p = dir.resolve("2024-Gasto-Mensual.csv")
      val body = (header.map(h => "\"" + h + "\"").mkString(",") +:
        rs.map(_.map(v => "\"" + v + "\"").mkString(","))).mkString("\n")
      Files.write(p, body.getBytes(StandardCharsets.UTF_8))
      p.toString
    }
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
    Seq(s1, inc, again, s3).foreach(_.release())
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
    full.release(); chained.release()
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
    s1.release(); s2.release()
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

package graft

import java.nio.charset.StandardCharsets
import java.nio.file.Files

import graft.mef._

/** Tripwire for `Sessions`' codegen cache size: a read-and-validate pass
  * over one star compiles more distinct classes than Spark's default
  * cache (100) holds, so at the default a second identical pass
  * recompiles them all. At [[Sessions.CodegenCacheEntries]] it reuses
  * them. Classes are counted by `CodegenMetrics`' compilation-time
  * histogram ([[Sessions.codegenClasses]]): one entry per compile.
  */
class CodegenCacheSpec extends SparkSuite {

  // MefPipelineSpec's trap-row fixture
  private val header = Seq(
    " ano_eje ", "mes_eje", "NIVEL_GOBIERNO", "nivel_gobierno_nombre",
    "SEC_EJEC", "EJECUTORA", "ejecutora_nombre", "SECTOR", "SECTOR_NOMBRE",
    "PLIEGO", "PLIEGO_NOMBRE", "DEPARTAMENTO_EJECUTORA_NOMBRE",
    "FUENTE_FINANCIAMIENTO", "FUENTE_FINANCIAMIENTO_NOMBRE",
    "ESPECIFICA", "ESPECIFICA_NOMBRE",
    "MONTO_COMPROMETIDO", "monto_devengado", "MONTO_PIM", "COLUMNA_EXTRA")
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

  private def buildStar(): Star.StarSchema = {
    val p = Files.createTempDirectory("mef_fixture").resolve("2024-Gasto-Mensual.csv")
    val csv = (header +: rows).map(_.map(v => "\"" + v + "\"").mkString(",")).mkString("\n")
    Files.write(p, csv.getBytes(StandardCharsets.UTF_8))
    MefPipeline.buildFromCsv(spark, Seq(p.toString))
  }

  /** A4-A8 collected, the three views noop-written, then Validate. */
  private def pass(star: Star.StarSchema): Unit = {
    Seq(
      Analytics.ytdDevengadoPorSector(star, 2024, 2),
      Analytics.topEjecutorasPorDevengado(star, 2024),
      Analytics.participacionPorEjecutora(star, 2024, 2, "SALUD"),
      Analytics.pendientePorEjecutar(star, 2024, 2),
      Analytics.evolucionTrimestral(star, 2024, 2024)).foreach(_.collect())
    Seq(Views.vwGastoMensual(star), Views.vwGastoAgregadoMensual(star),
      Views.vwGastoAgregadoAnual(star)).foreach(_.write.format("noop").mode("overwrite").save())
    Validate.validate(spark, star).collect()
  }

  private def compiled(body: => Unit): Long = {
    val c0 = Sessions.codegenClasses
    body
    Sessions.codegenClasses - c0
  }

  test("tripwire: a repeated MEF read-and-validate pass reuses its compiled classes") {
    assert(spark.conf.get("spark.sql.codegen.cache.maxEntries") ==
      Sessions.CodegenCacheEntries.toString)
    val star = buildStar() // the build's own classes stay out of the count
    val first = compiled(pass(star))
    val second = compiled(pass(star))
    assert(second <= 5, s"second pass compiled $second classes (first pass: $first)")
  }
}

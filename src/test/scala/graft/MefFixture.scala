package graft

/** The FIXTURES.md §A trap-row fixture: the MEF header as delivered
  * (padded and mixed-case names, one extra column) and six rows that
  * hit SURVEY.md §7.4's semantic traps. MefPipelineSpec asserts the
  * traps; CodegenCacheSpec builds its star from the same rows.
  */
object MefFixture {
  val header = Seq(
    " ano_eje ", "mes_eje", "NIVEL_GOBIERNO", "nivel_gobierno_nombre",
    "SEC_EJEC", "EJECUTORA", "ejecutora_nombre", "SECTOR", "SECTOR_NOMBRE",
    "PLIEGO", "PLIEGO_NOMBRE", "DEPARTAMENTO_EJECUTORA_NOMBRE",
    "FUENTE_FINANCIAMIENTO", "FUENTE_FINANCIAMIENTO_NOMBRE",
    "ESPECIFICA", "ESPECIFICA_NOMBRE",
    "MONTO_COMPROMETIDO", "monto_devengado", "MONTO_PIM", "COLUMNA_EXTRA")

  // grain traps: r1+r2 same grain (summed); r3/r4 invalid time (dropped);
  // r5 blank sector + unparseable devengado; r6 second month same unit.
  val rows = Seq(
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
}

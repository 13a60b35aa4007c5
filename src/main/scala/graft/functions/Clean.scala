package graft.functions

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** The reference's scalar cleaning kernel (SURVEY.md §2.8) as pure
  * `Column => Column` functions — all built on codegen'd
  * `org.apache.spark.sql.functions`, no UDFs.
  *
  * Reference semantics being reproduced:
  *  - F1 `limpiar_texto` (`etl/transformar_mensual.py:91-94`): null→"",
  *    cast to string, trim, collapse internal whitespace runs to one space.
  *  - F2 `a_numero` (`etl/transformar_mensual.py:86-87`): parse to double,
  *    unparseable → null (pandas `errors="coerce"`). Spark 4 runs ANSI-on
  *    by default, so a plain `cast` would throw — `try_cast` semantics via
  *    `try_to_number`-free expression cast.
  *  - F3 `construir_fecha` (`etl/transformar_mensual.py:98-105`):
  *    (year, month) → date YYYY-MM-01, null-propagating.
  *  - F4 `a_cadena` (`etl/cargar_postgres.py:155-156`): NA-preserving
  *    string cast + trim.
  *  - F7/F8 view-layer null handling
  *    (`sql/CreacionDeUsuariosyVistas.sql:99-105,127-133`).
  *  - F10 guarded division (`sql/ConsultasAlDataWarehouse.sql:58`).
  */
object Clean {

  /** F1: null→"", trim, collapse internal whitespace to single spaces.
    * Collapse BEFORE trim: Spark's `trim` strips only ' ' while pandas
    * `.strip()` strips all whitespace — collapsing first turns any
    * leading/trailing whitespace run into a single space that `trim`
    * then removes, matching pandas. Implemented by the one-pass
    * [[CleanText]] kernel — byte-identical to
    * `trim(regexp_replace(coalesce(c.cast("string"), lit("")), "\\s+", " "))`
    * (ExpressionEdgeSpec asserts the equivalence) at ~1/3 the cost on
    * the 50-text-column Transform projection.
    */
  def limpiarTexto(c: Column): Column =
    exprs.cleanText(c.cast("string"))

  /** F2: coerce-to-null numeric parse (pandas `to_numeric(errors="coerce")`).
    * ANSI-safe: invalid strings become null instead of raising.
    */
  def aNumero(c: Column): Column = c.try_cast("double")

  /** F3: (year, month) → first-of-month date; null if either part null. */
  def construirFecha(anio: Column, mes: Column): Column =
    make_date(anio, mes, lit(1))

  /** F4: NA-preserving cast-to-string + trim. */
  def aCadena(c: Column): Column = trim(c.cast("string"))

  /** F7: measure null→0 as in the denormalizing views. */
  def medida(c: Column): Column = coalesce(c, lit(0.0))

  /** F8: blank-or-null descriptive string → placeholder
    * (`COALESCE(NULLIF(TRIM(x), ''), 'SIN …')`).
    */
  def conPlaceholder(c: Column, placeholder: String): Column =
    coalesce(nullif(trim(c), lit("")), lit(placeholder))

  /** F10: guarded division — 0 when the denominator is not positive. */
  def divisionSegura(num: Column, den: Column): Column =
    when(den > 0, num / den).otherwise(lit(0.0))

  // ---- structural conformance (P1/P2) -------------------------------

  /** P1: canonicalize column names `strip().upper()`
    * (`etl/transformar_mensual.py:81-82,139`).
    */
  def normalizarCabeceras(df: DataFrame): DataFrame =
    df.toDF(df.columns.toIndexedSeq.map(_.trim.toUpperCase): _*)

  /** P2: conform to a fixed schema — inject missing columns as null
    * strings, drop extras, project to canonical order
    * (`etl/transformar_mensual.py:140-143`).
    */
  def conformar(df: DataFrame, canonical: Seq[String]): DataFrame = {
    val present = df.columns.toSet
    val withAll = canonical.foldLeft(df) { (d, c) =>
      if (present.contains(c)) d else d.withColumn(c, lit(null).cast("string"))
    }
    withAll.select(canonical.map(col): _*)
  }
}

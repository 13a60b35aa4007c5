package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.types.{StringType, StructField, StructType}

/** S1 — defensive CSV scan (`etl/transformar_mensual.py:131-179`):
  * all columns as string, malformed lines dropped, encoding fallback
  * utf-8 → utf-8-sig → latin-1.
  *
  * Spark reads the file partition-parallel (no manual 300k-row chunking);
  * the encoding fallback is a driver-side retry: parse the header under
  * each candidate encoding and keep the first that yields no U+FFFD
  * replacement chars (a wrong single-byte decode of UTF-8 data, or vice
  * versa, surfaces as replacement/mojibake in the header). This mirrors
  * the reference's per-encoding retry loop without reading data twice —
  * only the 1-row header probe repeats.
  */
object CsvIngest {

  /** utf-8-sig collapses into UTF-8 here: the JVM decoder accepts the
    * BOM, which [[apply]] strips from the first header afterwards.
    */
  val encodings: Seq[String] = Seq("UTF-8", "ISO-8859-1")

  /** Read a raw MEF CSV with encoding fallback; all columns StringType.
    * The probe decodes the header + a 100-row sample under each candidate
    * and rejects any decode that produced U+FFFD replacement chars. The
    * probe already reads all-string with header, so the chosen
    * encoding's probe names the columns of the final read's schema.
    */
  def apply(spark: SparkSession, path: String): DataFrame = {
    def probe(enc: String) = spark.read
      .option("header", "true").option("sep", ",").option("encoding", enc)
      .csv(path)
    val (chosen, header) = encodings.distinct.iterator.map(enc => enc -> probe(enc))
      .find { case (_, p) =>
        val headClean = !p.columns.exists(_.contains('�'))
        headClean && !p.limit(100).collect().exists(_.toSeq.exists {
          case s: String => s.contains('�')
          case _ => false
        })
      }.getOrElse("ISO-8859-1" -> probe("ISO-8859-1"))
    // force all-string schema (pandas dtype=str)
    val schema = StructType(header.columns.map(c => StructField(c, StringType, nullable = true)))
    val df = spark.read
      .option("header", "true")
      .option("sep", ",")
      .option("quote", "\"")
      .option("escape", "\\")
      .option("encoding", chosen)
      .option("mode", "DROPMALFORMED")
      .schema(schema)
      .csv(path)
    // utf-8-sig: strip a leading BOM that survives into the first header
    val cols = df.columns
    if (cols.nonEmpty && cols.head.startsWith("﻿"))
      df.withColumnRenamed(cols.head, cols.head.stripPrefix("﻿"))
    else df
  }

  /** File-level predicate P9 (`etl/transformar_mensual.py:27-29`):
    * accept `YYYY-Gasto.csv` / `YYYY-Gasto-Mensual.csv`, reject `*Diario*`.
    * Returns the year when accepted.
    */
  private val PatronOld = "^(20\\d{2})-Gasto\\.csv$".r
  private val PatronNew = "^(20\\d{2})-Gasto-Mensual\\.csv$".r

  def acceptFile(name: String): Option[Int] = {
    if (name.toLowerCase.contains("diario")) None
    else name match {
      case PatronOld(y) => Some(y.toInt)
      case PatronNew(y) => Some(y.toInt)
      case _ => None
    }
  }
}

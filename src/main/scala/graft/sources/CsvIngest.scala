package graft.sources

import com.univocity.parsers.csv.CsvParser
import org.apache.hadoop.fs.Path
import org.apache.hadoop.io.Text
import org.apache.hadoop.util.LineReader
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.csv.CSVOptions
import org.apache.spark.sql.execution.datasources.CodecStreams
import org.apache.spark.sql.execution.datasources.csv.CSVUtils
import org.apache.spark.sql.types.{StringType, StructField, StructType}

/** S1 — defensive CSV scan (`etl/transformar_mensual.py:131-179`):
  * all columns as string, malformed lines dropped, encoding fallback
  * utf-8 → utf-8-sig → latin-1.
  *
  * Spark reads the file partition-parallel (no manual 300k-row chunking);
  * the encoding fallback is a driver-side probe that runs no Spark job:
  * it reads the header and the first 100 non-blank lines after it
  * through Hadoop's FileSystem (decompressed by the codec Spark would
  * pick), decodes them under each candidate encoding and keeps the
  * first whose decode holds no U+FFFD replacement char (a wrong
  * single-byte decode of UTF-8 data, or vice versa, surfaces as
  * replacement/mojibake). This mirrors the reference's per-encoding
  * retry loop without a Spark read per candidate; only the data read
  * runs as a job.
  */
object CsvIngest {

  /** utf-8-sig collapses into UTF-8 here: Hadoop's line reader, and so
    * the probe, skips a BOM at the file's start.
    */
  val encodings: Seq[String] = Seq("UTF-8", "ISO-8859-1")

  /** Non-blank lines after the header that the encoding probe decodes. */
  private val SampleLines = 100

  /** Read ONE raw MEF CSV file (not a directory or glob: the probe opens
    * `path` itself) with encoding fallback; all columns StringType. The
    * chosen encoding's header names the columns of the final read's
    * schema.
    */
  def apply(spark: SparkSession, path: String): DataFrame = {
    val (chosen, header) = probe(spark, path)
    // force all-string schema (pandas dtype=str)
    val schema = StructType(header.map(c => StructField(c, StringType, nullable = true)))
    spark.read
      .option("header", "true")
      .option("sep", ",")
      .option("quote", "\"")
      .option("escape", "\\")
      .option("encoding", chosen)
      .option("mode", "DROPMALFORMED")
      .schema(schema)
      .csv(path)
  }

  /** The encoding [[apply]] reads `path` with, and the column names
    * Spark's own header inference (`header` = true, no schema) gives
    * under it: univocity's parser under the same `CSVOptions`, then
    * `CSVUtils.makeSafeHeader` (blank cells become `_c<i>`, duplicates
    * get their index appended). An empty file yields no columns.
    */
  private[graft] def probe(spark: SparkSession, path: String): (String, Seq[String]) = {
    val decoded = encodings.iterator.map(enc => enc -> headLines(spark, path, enc))
    val (chosen, lines) = decoded.find(_._2.forall(!_.contains('\uFFFD')))
      .getOrElse("ISO-8859-1" -> headLines(spark, path, "ISO-8859-1"))
    val options = new CSVOptions(
      Map("header" -> "true", "sep" -> ",", "encoding" -> chosen),
      columnPruning = true, defaultTimeZoneId = spark.conf.get("spark.sql.session.timeZone"))
    val header = lines.headOption
      .flatMap(line => Option(new CsvParser(options.asParserSettings).parseLine(line)))
      .map(CSVUtils.makeSafeHeader(_, spark.conf.get("spark.sql.caseSensitive").toBoolean, options))
    (chosen, header.fold(Seq.empty[String])(_.toSeq))
  }

  /** The header line and up to [[SampleLines]] non-blank lines after it,
    * decoded under `enc` the way Spark's line reader does: split on
    * LF, CR or CRLF as bytes, a UTF-8 BOM at the file's start skipped,
    * each line decoded alone. The header is the first line with a
    * non-space char (Spark's schema inference trims spaces only), data
    * lines are those Spark's CSV reader keeps (`trim.nonEmpty`).
    */
  private def headLines(spark: SparkSession, path: String, enc: String): List[String] = {
    val in = CodecStreams.createInputStreamWithCloseResource(
      spark.sparkContext.hadoopConfiguration, new Path(path))
    try {
      val reader = new LineReader(in)
      val text = new Text()
      val lines = Iterator.continually(reader.readLine(text)).takeWhile(_ > 0).zipWithIndex
        .map { case (_, i) =>
          val bytes = text.getBytes
          val bom = i == 0 && text.getLength >= 3 &&
            bytes(0) == 0xEF.toByte && bytes(1) == 0xBB.toByte && bytes(2) == 0xBF.toByte
          val from = if (bom) 3 else 0
          new String(bytes, from, text.getLength - from, enc)
        }
        .dropWhile(_.forall(_ == ' '))
      if (!lines.hasNext) Nil
      else lines.next() :: lines.filter(_.trim.nonEmpty).take(SampleLines).toList
    } finally in.close()
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

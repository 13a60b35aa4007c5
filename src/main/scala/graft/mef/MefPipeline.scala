package graft.mef

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.mef.Star.StarSchema
import graft.sources.CsvIngest

/** End-to-end pipeline: the reference's three entry points
  * (transform → load → query, SURVEY.md §3) as one composable API.
  * A reference user's `python etl/transformar_mensual.py && python
  * etl/cargar_postgres.py` becomes `MefPipeline.buildFromCsv(...)`,
  * and the views/analytics run straight off the returned star.
  */
object MefPipeline {

  /** CSV paths → conformed+typed frame (Transform stage). The list
    * must be non-empty: an empty frame has no schema to union onto.
    */
  def transform(spark: SparkSession, csvPaths: Seq[String]): DataFrame = {
    require(csvPaths.nonEmpty, "MefPipeline.transform: the CSV path list is empty")
    csvPaths.map(p => Transform(CsvIngest(spark, p))).reduce(_ unionByName _)
  }

  /** Any raw all-string frame → star schema (Transform + Load stages). */
  def buildFromRaw(spark: SparkSession, raw: DataFrame): StarSchema =
    Star.build(spark, Normalize(Transform(raw)))

  def buildFromCsv(spark: SparkSession, csvPaths: Seq[String]): StarSchema =
    Star.build(spark, Normalize(transform(spark, csvPaths)))
}

package graft.mef

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.mef.Star.StarSchema

/** Warehouse constraint validation — the engine-side stand-in for the
  * DDL's PK/UNIQUE/FK enforcement
  * (`sql/CreacionDeDataWareHouse.sql:114-145`, dim uniques
  * `etl/cargar_postgres.py:101-113`), which Spark does not enforce
  * declaratively: every constraint becomes a counted check, one row
  * per constraint, `violations = 0` ⇔ the constraint holds.
  *
  * Scale shape: each check is a single aggregate, filter or anti-join
  * keyed on the constraint's columns — the same shuffles a
  * constraint-building index would need, run on demand instead of
  * per-write. Dim checks run over bounded tables. All 24 checks run as
  * ONE action: each check's violating rows, tagged with the check's
  * index, feed one union that one `groupBy(index).count()` counts, so a
  * validation pays one query's scheduling instead of 24.
  */
object Validate {

  /** All constraint checks as one result frame:
    * (table, constraint, violations).
    */
  def validate(spark: SparkSession, star: StarSchema): DataFrame = {
    import spark.implicits._

    def dupGroups(df: DataFrame, cols: Seq[String]): DataFrame =
      df.groupBy(cols.map(col): _*).count().filter(col("count") > 1)

    def dangling(fk: String, dim: DataFrame): DataFrame =
      star.fact.select(col(fk)).join(dim.select(col(fk)), Seq(fk), "left_anti")

    // (table, constraint, violating rows), in the reported order
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

    checks.map { case ((table, constraint, _), i) =>
      (table, constraint, violations.getOrElse(i, 0L))
    }.toDF("table", "constraint", "violations")
  }

  /** True iff every constraint holds. */
  def holds(spark: SparkSession, star: StarSchema): Boolean =
    validate(spark, star).filter(col("violations") > 0).isEmpty
}

package graft.mef

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DataType, DoubleType}

import graft.mef.Star.StarSchema

/** Warehouse constraint validation — the engine-side stand-in for the
  * DDL's PK/UNIQUE/FK enforcement
  * (`sql/CreacionDeDataWareHouse.sql:114-145`, dim uniques
  * `etl/cargar_postgres.py:101-113`), which Spark does not enforce
  * declaratively: every constraint becomes a counted check, one row
  * per constraint, `violations = 0` ⇔ the constraint holds.
  *
  * Scale shape: each check is an aggregate, filter or anti-join keyed
  * on the constraint's columns — the same shuffles a
  * constraint-building index would need, run on demand instead of
  * per-write. Dim checks run over bounded tables.
  *
  * All 24 checks run as ONE action over FOUR plan shapes, whatever the
  * number of dims: the grain-uniqueness aggregate, the FK null filter,
  * ONE anti-join of the fact's exploded `(check, id)` FK rows against
  * the broadcast union of every dim's `(check, id)`, and ONE
  * `groupBy(check, key)` over every dim exploded into its pk and
  * natural-key rows. Each shape tags its violating rows with the
  * check's index and feeds one union that one `groupBy(check).count()`
  * counts. A check per plan would pay a stage pair and fresh generated
  * classes per constraint (24 plans: 25 stages and 116 classes of a
  * cold load); a new constraint joins the stacked shape of its kind.
  */
object Validate {

  private val Fact = "fact_gasto_mensual"

  /** A key column as a string that groups exactly as the column does.
    * `groupBy` on a double treats -0.0 and 0.0 as one value, a plain
    * string cast does not, so a double equal to 0.0 becomes "0.0". (It
    * also makes every NaN one value; every NaN already casts to "NaN".)
    * Nulls stay null.
    */
  private def groupingString(c: Column, t: DataType): Column = t match {
    case DoubleType => when(c === 0.0, lit("0.0")).otherwise(c.cast("string"))
    case _ => c.cast("string")
  }

  /** `df` stacked: one output row per struct of `rows` (all of one type)
    * per input row, with the structs' fields as columns.
    */
  private def stack(df: DataFrame, rows: Seq[Column]): DataFrame =
    df.select(explode(array(rows: _*)).as("r")).select("r.*")

  /** All constraint checks as one result frame:
    * (table, constraint, violations).
    */
  def validate(spark: SparkSession, star: StarSchema): DataFrame = {
    import spark.implicits._

    val fkRefs = MefSchema.dims.map(s => (s.id, s.name, star.dims(s.name))) :+
      (("tiempo_id", "dim_tiempo", star.dimTiempo))
    // (table, constraint) in the reported order; a check's index is its
    // position here.
    val names =
      Seq(Fact -> "unique_8fk_grain", Fact -> "fk_not_null") ++
        fkRefs.map { case (fk, dim, _) => Fact -> s"fk_${fk}_references_$dim" } ++
        MefSchema.dims.flatMap(s => Seq(s.name -> s"pk_${s.id}_unique", s.name -> "natural_key_unique"))
    val fkCheck = 2
    val dimCheck = fkCheck + fkRefs.size

    val grainDups = star.fact.groupBy(MefSchema.factFks.map(col): _*).count()
      .filter(col("count") > 1).select(lit(0).as("check"))

    val nullFks = star.fact.filter(MefSchema.factFks.map(col(_).isNull).reduce(_ || _))
      .select(lit(1).as("check"))

    // A null FK never matches, so it counts here as well as in fk_not_null.
    val factFkRows = stack(star.fact, fkRefs.zipWithIndex.map { case ((fk, _, _), j) =>
      struct(lit(fkCheck + j).as("check"), col(fk).as("id"))
    })
    val dimIds = fkRefs.zipWithIndex
      .map { case ((fk, _, dim), j) => dim.select(lit(fkCheck + j).as("check"), col(fk).as("id")) }
      .reduce(_ union _)
    val dangling = factFkRows.join(broadcast(dimIds), Seq("check", "id"), "left_anti")
      .select("check")

    val dimKeyDups = MefSchema.dims.zipWithIndex.map { case (spec, j) =>
      val d = star.dims(spec.name)
      def keyOf(cols: Seq[String]) = array(cols.map(c => groupingString(col(c), d.schema(c).dataType)): _*)
      stack(d, Seq(
        struct(lit(dimCheck + 2 * j).as("check"), keyOf(Seq(spec.id)).as("key")),
        struct(lit(dimCheck + 2 * j + 1).as("check"), keyOf(spec.keys).as("key"))))
    }.reduce(_ union _)
      .groupBy("check", "key").count()
      .filter(col("count") > 1).select("check")

    val violations = Seq(grainDups, nullFks, dangling, dimKeyDups)
      .reduce(_ union _)
      .groupBy("check").count()
      .collect().map(r => r.getInt(0) -> r.getLong(1)).toMap

    names.zipWithIndex.map { case ((table, constraint), i) =>
      (table, constraint, violations.getOrElse(i, 0L))
    }.toDF("table", "constraint", "violations")
  }

  /** True iff every constraint holds. */
  def holds(spark: SparkSession, star: StarSchema): Boolean =
    validate(spark, star).filter(col("violations") > 0).isEmpty
}

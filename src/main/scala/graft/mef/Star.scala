package graft.mef

import org.apache.spark.sql.{DataFrame, Observation, Row, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.mef.MefSchema.DimSpec

/** Star-schema loader: the loader's per-batch dim-cache / anti-join /
  * JDBC-upsert dance (`etl/cargar_postgres.py:270-388`) as ONE load
  * path, [[append]]. A full load ([[build]]) is the first append, onto
  * the [[empty]] star, exactly as the reference's full load is its
  * first batch.
  *
  * Semantics decisions (SURVEY.md §7.4):
  *  - Surrogate ids are dense: a batch's new natural keys take the ids
  *    after the dim's row count, in natural-key order (nulls first) —
  *    the SERIAL analog, deterministic across runs, unlike SERIAL
  *    insertion order. On a full load that is `row_number` over every
  *    key. Ids are internal plumbing: every observable query keys on
  *    natural attributes. (The fact side never sorts. The numbering
  *    window runs on one partition; [[append]] observes the batch
  *    grain's row count while the grain checkpoints (no job of its
  *    own), and since no batch brings more new keys than its grain has
  *    rows, every dim goes straight to the window while that count is
  *    within [[DimWindowMaxRows]]. Only above it does each dim take
  *    a checkpoint + count probe, which routes dims past the bound
  *    through the distributed [[graft.operators.DenseId]] numbering —
  *    identical ids, no single-executor bottleneck when a "dimension"
  *    turns out unbounded.)
  *  - Existing dim rows keep their ids and first-loaded attributes, a
  *    fact grain row already present is left untouched (first write
  *    wins on the 8-FK UNIQUE, `sql/CreacionDeDataWareHouse.sql:136-
  *    137`) and re-delivering a loaded batch is a no-op: the loader's
  *    `ON CONFLICT DO NOTHING` cross-batch semantics
  *    (`etl/cargar_postgres.py:127-152,236-267`). On a one-shot load
  *    this is the reference's within-batch consolidation.
  *  - Attribute recovery picks the lexicographically smallest attribute
  *    tuple per natural key (deterministic stand-in for the reference's
  *    nondeterministic first-insert-wins, `etl/cargar_postgres.py:359-360`).
  *  - Null natural keys resolve via null-safe equality (pandas `merge`
  *    matches NaN keys; plain Spark joins would drop them before the P4
  *    filter could count them).
  */
object Star {

  /** The star holds only its own tables and each dim's row count
    * (`rows`, by dim name). Ids are dense, so a dim's row count is
    * also its max id: the offset its next load numbers from. A load's
    * consolidated grain is not kept, so its checkpoint blocks are
    * freed (ContextCleaner) once the dims and fact exist.
    */
  final case class StarSchema(
      dimTiempo: DataFrame,
      dims: Map[String, DataFrame],
      fact: DataFrame,
      rows: Map[String, Long])

  /** dim_tiempo: monthly spine 2010-01..2030-12, 252 rows, ids ordered by
    * date exactly like the SERIAL fill (`sql/CreacionDeDataWareHouse.sql:9-24`).
    */
  def dimTiempo(spark: SparkSession): DataFrame =
    spark.range(1)
      .select(explode(sequence(
        to_date(lit("2010-01-01")), to_date(lit("2030-12-01")),
        expr("interval 1 month"))).as("fecha"))
      .select(
        row_number().over(Window.orderBy(col("fecha"))).as("tiempo_id"),
        col("fecha"),
        year(col("fecha")).as("anio"),
        month(col("fecha")).as("mes"),
        quarter(col("fecha")).as("trimestre"))

  /** Above this many dim rows the surrogate-id ranking window (which
    * Spark executes on ONE partition) hands off to the distributed
    * [[graft.operators.DenseId]] numbering. A 1M-row skinny sort on
    * one executor is comfortably cheap; an unbounded dim (documents,
    * users, URLs masquerading as a "dimension") is not, and before
    * r13 it would have silently single-partitioned.
    */
  val DimWindowMaxRows: Long = 1L << 20

  /** Early consolidation: ONE map-side-combining groupBy at the
    * natural grain (time + every dim attribute column) collapses the
    * raw stream to grain cardinality BEFORE any dim build or FK join.
    * At 100 TB this is the load-bearing choice: the only full-width
    * shuffle carries pre-aggregated rows; dims and FK resolution then
    * operate on the (bounded) grain, not the fact stream.
    *
    * The grain materializes lineage-TRUNCATED (localCheckpoint = the
    * local-mode analog of the loader writing the consolidated batch to
    * the warehouse): persist() would cache the data, but the 7 dim
    * builds + the fact resolution would still re-analyze the whole
    * scan+clean+Transform subtree 8 times; the checkpoint plans them
    * against a shallow table scan.
    *
    * `rows` observes the grain's row count (`"rows"`) as the
    * checkpoint runs: an `Observation` rides the checkpoint's own job,
    * where a `count()` would be a job of two stages.
    */
  private def consolidateGrain(normalized: DataFrame, rows: Observation): DataFrame = {
    val grainCols = ("ano_eje" +: "mes_eje" +: MefSchema.dims.flatMap(_.allCols)).distinct
    val preAggs = MefSchema.measures.map(m => sum(col(m)).as(m))
    normalized
      .groupBy(grainCols.map(col): _*)
      .agg(preAggs.head, preAggs.tail: _*)
      .observe(rows, count(lit(1)).as("rows"))
      .localCheckpoint()
  }

  /** J3: one row per distinct natural key of `spec`, with the
    * deterministic representative attributes (the lexicographically
    * smallest attribute tuple).
    */
  private def distinctKeys(frame: DataFrame, spec: DimSpec): DataFrame = {
    val attrCols = spec.allCols.filterNot(spec.keys.contains)
    val keyCols = spec.keys.map(col)
    if (attrCols.isEmpty) frame.select(keyCols: _*).distinct()
    else frame
      .groupBy(keyCols: _*)
      .agg(min(struct(attrCols.map(col): _*)).as("_attrs"))
      .select(keyCols ++ attrCols.map(a => col(s"_attrs.$a").as(a)): _*)
  }

  /** `f` over every dim spec as concurrent futures, so the per-dim
    * materializations don't serialize into 7 cluster-wide barriers.
    */
  private def perDim(f: DimSpec => DataFrame): Map[String, DataFrame] = {
    import scala.concurrent.{Await, Future}
    import scala.concurrent.ExecutionContext.Implicits.global
    import scala.concurrent.duration.Duration
    Await.result(
      Future.traverse(MefSchema.dims)(spec => Future(spec.name -> f(spec))),
      Duration.Inf).toMap
  }

  /** Dense surrogate ids `offset`+1..`offset`+n over distinct natural
    * `keys`, in natural-key order (nulls first): the single-partition
    * `row_number` window, or with `dense` [[graft.operators.DenseId]]'s
    * range-partitioned numbering, which assigns the IDENTICAL ids
    * (natural keys are unique post-dedup, so the order is total;
    * StarSkewSpec asserts id-for-id equality both ways).
    */
  private def numbered(keys: DataFrame, spec: DimSpec, offset: Long, dense: Boolean): DataFrame = {
    val order = spec.keys.map(k => col(k).asc_nulls_first)
    val ranked =
      if (dense) graft.operators.DenseId.withDenseId(keys, order, spec.id)
      else keys.withColumn(spec.id, row_number().over(Window.orderBy(order: _*)))
    ranked.select((col(spec.id) + offset).cast("int").as(spec.id) +: spec.allCols.map(col): _*)
  }

  /** Ids after `offset` for distinct `keys` whose count is not known
    * to be bounded: the keys materialize (localCheckpoint) and are
    * counted so the numbering can route: at most `windowMaxRows` keep
    * the single-partition window, more take
    * [[graft.operators.DenseId]]. [[append]] runs this probe only when
    * its batch grain exceeds [[DimWindowMaxRows]]; under it each dim
    * delta materializes once, with no probe.
    */
  private def routed(keys: DataFrame, spec: DimSpec, offset: Long, windowMaxRows: Long): DataFrame = {
    val snapped = keys.localCheckpoint()
    val n = snapped.count()
    require(offset + n <= Int.MaxValue,
      s"dim ${spec.name} exceeds the int surrogate-id domain (${offset + n} rows)")
    numbered(snapped, spec, offset, dense = n > windowMaxRows)
  }

  /** One attribute dimension of `normalized` whose size is not known to
    * be bounded: distinct natural keys, deterministic representative
    * attributes, dense surrogate ids after `offset`, routed by size.
    */
  def buildDim(
      normalized: DataFrame, spec: DimSpec,
      windowMaxRows: Long = DimWindowMaxRows, offset: Long = 0L): DataFrame =
    routed(distinctKeys(normalized, spec), spec, offset, windowMaxRows)

  /** The star before its first load: dim_tiempo, and the 7 dims and the
    * fact as rowless `LocalRelation`s with the schemas a load of
    * `normalized` gives them (analysis only, no job). Catalyst prunes
    * the anti-joins against them and the unions with them while
    * optimizing, so the first [[append]] plans as a one-shot build.
    */
  def empty(spark: SparkSession, normalized: DataFrame): StarSchema = {
    def none(shape: DataFrame) = spark.createDataFrame(java.util.List.of[Row](), shape.schema)
    val tiempo = dimTiempo(spark)
    val dims = MefSchema.dims.map { spec =>
      spec.name -> none(numbered(distinctKeys(normalized, spec), spec, 0L, dense = false))
    }.toMap
    StarSchema(tiempo, dims, none(resolveFact(normalized, tiempo, dims)), dims.map(_._1 -> 0L))
  }

  /** Full star load: the first [[append]], onto [[empty]]. */
  def build(spark: SparkSession, normalized: DataFrame): StarSchema =
    append(spark, empty(spark, normalized), normalized)

  /** J1 + J4 + P4 + A1: time/FK resolution, completeness filter, grain
    * consolidation of an already-grain-consolidated normalized frame.
    */
  private def resolveFact(
      normalized: DataFrame, tiempo: DataFrame,
      dims: Map[String, DataFrame]): DataFrame = {
    // J1: time lookup — broadcast the 252-row spine.
    var fact = normalized
      .withColumn("_anio", col("ano_eje").cast("int"))
      .withColumn("_mes", col("mes_eje").cast("int"))
      .join(
        broadcast(tiempo.select(col("tiempo_id"), col("anio"), col("mes"))),
        col("_anio") === col("anio") && col("_mes") === col("mes"), "left")
      .drop("anio", "mes", "_anio", "_mes")

    // J4: FK resolution ×7 — null-safe broadcast joins on natural keys.
    MefSchema.dims.foreach { spec =>
      val dimMap = dims(spec.name).select((spec.id +: spec.keys).map(col): _*)
      val cond = spec.keys.map(k => fact(k) <=> dimMap(k)).reduce(_ && _)
      fact = fact.join(broadcast(dimMap), cond, "left").drop(dimMap.columns.toIndexedSeq.filter(spec.keys.contains): _*)
    }

    // P4: FK completeness — drop rows with any unresolved surrogate.
    val complete = fact.filter(MefSchema.factFks.map(col(_).isNotNull).reduce(_ && _))

    // A1: grain consolidation — one row per 8-FK grain, measures summed
    // (empty→0 like pandas groupby().sum() on all-NaN groups).
    val measureAggs = MefSchema.measures.map(m => coalesce(sum(col(m)), lit(0.0)).as(m))
    complete
      .groupBy(MefSchema.factFks.map(col): _*)
      .agg(measureAggs.head, measureAggs.tail: _*)
  }

  /** Load one normalized batch into `star`: J2 + J3 dim deltas with
    * SERIAL-style ids, then the first-write-wins fact merge.
    *
    * Scale shape: the batch grain-consolidates first (ONE wide shuffle
    * over the BATCH, never the accumulated fact); dim deltas are
    * anti-joins on bounded dims; the fact merge is a left-anti join
    * keyed on the 8-FK grain — at 100 TB each step shuffles at most
    * batch-grain or fact-grain cardinality, not raw volume. The star's
    * row counts stand in for each dim's max id, so no step aggregates
    * the existing dims.
    */
  def append(spark: SparkSession, star: StarSchema, normalized: DataFrame): StarSchema = {
    // The final groupBy(fks) in resolveFact still consolidates any
    // residual duplicates (e.g. same natural key with inconsistent
    // attributes), so semantics equal the reference's per-batch A1 +
    // unique-grain sink.
    val grainRows = Observation("grain")
    val batch = consolidateGrain(normalized, grainRows)
    // A batch brings at most as many new keys as its grain has rows, so
    // under the window bound no dim needs routed's checkpoint + count
    // probe. The count is observed while the grain checkpoints, so it
    // costs no job of its own.
    val bounded = grainRows.get("rows").asInstanceOf[Long] <= DimWindowMaxRows

    val deltaRows = MefSchema.dims.map(spec => spec.name -> Observation(spec.name)).toMap
    def delta(spec: DimSpec): DataFrame = {
      // J3: deterministic representative attributes of the batch's keys.
      val incoming = distinctKeys(batch, spec)
      // J2: new-key detection — null-safe anti-join vs existing keys.
      val exKeys = star.dims(spec.name).select(spec.keys.map(col): _*)
      val cond = spec.keys.map(k => incoming(k) <=> exKeys(k)).reduce(_ && _)
      val fresh = incoming.join(exKeys, cond, "left_anti")
      // SERIAL analog: ids continue after the dim's row count.
      val offset = star.rows(spec.name)
      val ids =
        if (bounded) numbered(fresh, spec, offset, dense = false)
        else routed(fresh, spec, offset, DimWindowMaxRows)
      ids.observe(deltaRows(spec.name), count(lit(1)).as("rows")).localCheckpoint()
    }

    // Materialize the DELTAS only, lineage-truncated: an append writes
    // the delta partition and never rewrites the table (the r11 fold
    // re-checkpointed every dim and the whole fact per load, O(k²) over
    // k loads). Every dim checkpoints its (possibly empty) delta and
    // unions it on: an emptiness probe per dim per load was A/B'd and
    // costs more than the empty unions save. The delta's row count is
    // observed on that checkpoint. The lineage grows one shallow union
    // node per load; past ~dozens of appends a consolidation checkpoint
    // (a compaction pass) would cap it, not wired because the MEF load
    // cadence is monthly (≤12 appends/year between full rebuilds).
    val dims = perDim(spec => star.dims(spec.name).unionByName(delta(spec)))
    val rows = star.rows.map { case (name, n) =>
      name -> (n + deltaRows(name).get("rows").asInstanceOf[Long])
    }

    // Resolve the batch against the grown dims, then first-write-wins
    // merge on the 8-FK grain (anti-join is safe on plain equality:
    // FKs are non-null by the P4 filter). Delta-only again: the
    // re-delivery no-op materializes NOTHING.
    val resolved = resolveFact(batch, star.dimTiempo, dims)
    val freshFact = resolved.join(
      star.fact.select(MefSchema.factFks.map(col): _*),
      MefSchema.factFks.toIndexedSeq, "left_anti")
      .localCheckpoint()
    // (checkpointed frames free their blocks when the RDDs are GC'd.)
    StarSchema(star.dimTiempo, dims, star.fact.unionByName(freshFact), rows)
  }
}

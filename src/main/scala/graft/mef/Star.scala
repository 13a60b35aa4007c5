package graft.mef

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.mef.MefSchema.DimSpec

/** Star-schema builder — replaces the loader's per-batch dim-cache /
  * anti-join / JDBC-upsert dance (`etl/cargar_postgres.py:270-388`) with a
  * declarative single-pass build: ~1 shuffle per dimension + 1 for the
  * fact grain.
  *
  * Semantics decisions (SURVEY.md §7.4):
  *  - Surrogate ids are dense `row_number` over the natural-key order —
  *    deterministic across runs, unlike SERIAL insertion order. They are
  *    internal plumbing: every observable query keys on natural
  *    attributes. (The fact side never sorts. The ranking window runs on
  *    one partition, so [[buildDim]] counts the deduped keys and routes
  *    dims above [[DimWindowMaxRows]] through the distributed
  *    [[graft.operators.DenseId]] numbering — identical ids, no
  *    single-executor bottleneck when a "dimension" turns out unbounded.)
  *  - Attribute recovery picks the lexicographically smallest attribute
  *    tuple per natural key (deterministic stand-in for the reference's
  *    nondeterministic first-insert-wins, `etl/cargar_postgres.py:359-360`).
  *  - Two load paths: [[build]] (one-shot `groupBy(grain).sum` — equals
  *    the reference's within-batch consolidation + conflict-drop on a
  *    clean load, without the lossy cross-run drop) and [[append]]
  *    (incremental, reproducing the loader's actual `ON CONFLICT DO
  *    NOTHING` cross-batch semantics: id-preserving dim deltas,
  *    first-write-wins fact merge, idempotent re-delivery).
  *  - Null natural keys resolve via null-safe equality (pandas `merge`
  *    matches NaN keys; plain Spark joins would drop them before the P4
  *    filter could count them).
  */
object Star {

  final case class StarSchema(
      dimTiempo: DataFrame,
      dims: Map[String, DataFrame],
      fact: DataFrame,
      private[mef] val source: Option[DataFrame] = None) {
    /** Release cache-manager state for this star's frames. Frames
      * materialized via localCheckpoint (grain/dims/fact since the
      * lineage-truncation change) free their blocks when the backing
      * RDDs are GC'd; unpersist here is a harmless no-op for those but
      * still covers any persisted frames a caller composed on top.
      */
    def release(): Unit = {
      source.foreach(_.unpersist())
      dims.values.foreach(_.unpersist())
      fact.unpersist()
    }
  }

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
    */
  private def consolidateGrain(normalized: DataFrame): DataFrame = {
    val grainCols = ("ano_eje" +: "mes_eje" +: MefSchema.dims.flatMap(_.allCols)).distinct
    val preAggs = MefSchema.measures.map(m => sum(col(m)).as(m))
    normalized
      .groupBy(grainCols.map(col): _*)
      .agg(preAggs.head, preAggs.tail: _*)
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

  /** One attribute dimension: distinct natural keys, deterministic
    * representative attributes, dense surrogate id.
    *
    * The deduped keys materialize (localCheckpoint) and are counted so
    * the id assignment can route: bounded dims (≤ `windowMaxRows`)
    * keep the single-partition ranking window; larger dims take
    * [[graft.operators.DenseId]]'s range-partitioned numbering, which
    * assigns the IDENTICAL ids (row_number over the same asc_nulls_
    * first key order — natural keys are unique post-dedup, so the
    * order is total; StarSkewSpec asserts id-for-id equality both
    * ways). The count is one tiny job over already-checkpointed
    * blocks; [[build]] runs it inside the per-dim concurrent futures.
    */
  def buildDim(
      normalized: DataFrame, spec: DimSpec,
      windowMaxRows: Long = DimWindowMaxRows): DataFrame = {
    val snapped = distinctKeys(normalized, spec).localCheckpoint()
    val n = snapped.count()
    val withId =
      if (n <= windowMaxRows)
        snapped.withColumn(
          spec.id,
          row_number().over(Window.orderBy(spec.keys.map(k => col(k).asc_nulls_first): _*)))
      else {
        require(n <= Int.MaxValue,
          s"dim ${spec.name} exceeds the int surrogate-id domain ($n rows)")
        graft.operators.DenseId.withDenseId(
          snapped, spec.keys.map(k => col(k).asc_nulls_first), spec.id)
          .withColumn(spec.id, col(spec.id).cast("int"))
      }
    withId.select((spec.id +: spec.allCols).map(col): _*)
  }

  /** Full star build from the normalized frame: all dims + the
    * FK-resolved, FK-complete, grain-consolidated fact.
    */
  def build(spark: SparkSession, normalizedIn: DataFrame): StarSchema = {
    // The final groupBy(fks) in resolveFact still consolidates any
    // residual duplicates (e.g. same natural key with inconsistent
    // attributes), so semantics equal the reference's per-batch A1 +
    // unique-grain sink.
    val normalized = consolidateGrain(normalizedIn)
    val tiempo = dimTiempo(spark)
    // Dims and the consolidated fact materialize too: the warehouse
    // contract is load-once/query-many, and without them every view or
    // analytic re-runs 7 dim builds + 7 FK joins + the final grain
    // consolidation from the grain frame. On a cluster these are the
    // dim/fact tables a loader would write to storage.
    val dims = perDim(spec => buildDim(normalized, spec).localCheckpoint())

    val consolidated = resolveFact(normalized, tiempo, dims).localCheckpoint()

    StarSchema(tiempo, dims, consolidated, Some(normalized))
  }

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

  /** Incremental load — fold a new normalized batch into an existing
    * star with the loader's `ON CONFLICT DO NOTHING` key semantics
    * (`etl/cargar_postgres.py:127-152,236-267`): existing dim rows keep
    * their surrogate ids and first-loaded attributes; new natural keys
    * get ids above the current max (the SERIAL analog, J2+J3); fact
    * grain rows already present are left untouched (first write wins on
    * the 8-FK UNIQUE, `sql/CreacionDeDataWareHouse.sql:136-137`); new
    * grains append. Re-delivering an already-loaded batch is a no-op —
    * the reference's crash-resume contract, engine-native.
    *
    * Scale shape: the batch grain-consolidates exactly like [[build]]
    * (ONE wide shuffle over the BATCH, never the accumulated fact); dim
    * deltas are anti-joins on bounded dims; the fact merge is a
    * left-anti join keyed on the 8-FK grain — at 100 TB each step
    * shuffles at most batch-grain or fact-grain cardinality, not raw
    * volume. Fresh keys are always numbered by a single-partition
    * `row_number` window over the batch's new keys; unlike
    * [[buildDim]], append has no [[graft.operators.DenseId]] route.
    */
  def append(spark: SparkSession, star: StarSchema, normalizedIn: DataFrame): StarSchema = {
    val batch = consolidateGrain(normalizedIn)

    def delta(spec: DimSpec): DataFrame = {
      val existing = star.dims(spec.name)
      // J3: deterministic representative attributes of the batch's keys.
      val incoming = distinctKeys(batch, spec)
      // J2: new-key detection — null-safe anti-join vs existing keys.
      val exKeys = existing.select(spec.keys.map(col): _*)
      val cond = spec.keys.map(k => incoming(k) <=> exKeys(k)).reduce(_ && _)
      val fresh = incoming.join(exKeys, cond, "left_anti")
      // SERIAL analog: ids continue above the current max, ordered by
      // natural key within the batch (1-row max cross-joined, J9-style,
      // so nothing collects to the driver).
      val maxId = existing.agg(coalesce(max(col(spec.id)), lit(0)).as("_max"))
      fresh
        .withColumn("_rn",
          row_number().over(Window.orderBy(spec.keys.map(k => col(k).asc_nulls_first): _*)))
        .crossJoin(broadcast(maxId))
        .select((col("_rn") + col("_max")).cast("int").as(spec.id) +: spec.allCols.map(col): _*)
    }

    // Materialize the DELTAS only, lineage-truncated (the warehouse
    // contract: an append writes the delta partition, it never
    // rewrites the table — the r11 fold paid an O(accumulated-star)
    // re-checkpoint of every dim AND the whole fact per load, so k
    // monthly loads cost O(k²) rewrites). Every dim unconditionally
    // checkpoints its (possibly empty) delta and unions it on — a
    // saturated dim still pays one tiny checkpoint job, because the
    // alternative (an emptiness probe per dim per load) was A/B'd and
    // costs MORE than the empty unions save: union with an empty
    // checkpointed delta is free at read time, while a probe costs a
    // job per dim per load. The union-over-checkpointed-deltas lineage grows one
    // shallow union node per load over table scans; that stays cheap
    // to ~dozens of appends, beyond which a consolidation checkpoint
    // (re-checkpoint the unioned dim, exactly like a cluster
    // compaction pass) caps it — not wired here because the MEF load
    // cadence is monthly (≤12 appends/year between full rebuilds).
    val matDims = perDim(spec =>
      star.dims(spec.name).unionByName(delta(spec).localCheckpoint()))

    // Resolve the batch against the grown dims, then first-write-wins
    // merge on the 8-FK grain (anti-join is safe on plain equality:
    // FKs are non-null by the P4 filter). Delta-only again: the
    // re-delivery no-op materializes NOTHING.
    val resolved = resolveFact(batch, star.dimTiempo, matDims)
    val freshFact = resolved.join(
      star.fact.select(MefSchema.factFks.map(col): _*),
      MefSchema.factFks.toIndexedSeq, "left_anti")
      .localCheckpoint()
    val fact = star.fact.unionByName(freshFact)
    // (checkpointed frames free their blocks when the RDDs are GC'd.)
    StarSchema(star.dimTiempo, matDims, fact, None)
  }

  /** P4 diagnostics: per-FK unresolved counts, one pass
    * (`etl/cargar_postgres.py:370-371`).
    */
  def fkNullDiagnostics(factWithFks: DataFrame): DataFrame =
    factWithFks.agg(
      count(lit(1)).as("total_rows"),
      MefSchema.factFks.map(fk =>
        count(when(col(fk).isNull, 1)).as(s"null_$fk")): _*)
}

package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Distributed minimum spanning forest via Borůvka's algorithm (1926;
  * the textbook distributed MST — each round every component picks its
  * minimum incident edge, picked edges merge components, component
  * count at least halves per round, so O(log |V|) rounds).
  *
  * Determinism: edges compare by the TOTAL order (w, u, v) — the
  * struct-min aggregate — so the pick set is unique even under weight
  * ties, and the resulting forest is the minimum spanning forest
  * w.r.t. that order (the unique-MST argument applies verbatim to any
  * total comparator).
  *
  * Scale shape: one round = two label equi-joins + one struct-min agg
  * on the symmetrized cross-edge frame + a component-graph CC
  * ([[Dedup.connectedComponents]], pointer-jumping O(log d)) whose
  * input is ONE edge per component — the comp graph shrinks
  * geometrically, so late rounds are trivially small. Labels and the
  * edge frame are localCheckpoint'ed (the cluster analog: a compact
  * working table), and the driver only ever sees per-round counts.
  */
object Mst {

  /** Minimum spanning forest of the undirected edge frame
    * `(u: Long, v: Long, w: Long)` (each edge listed once). Returns
    * the picked edges as (u, v, w, round). Stops when a round picks
    * nothing (forest complete); throws if still unconverged after
    * `maxRounds` — component count halves per round, so maxRounds ≈
    * log₂|V| suffices and silent truncation would mean a wrong forest.
    */
  def boruvka(edges: DataFrame, maxRounds: Int = 16): DataFrame = {
    val spark = edges.sparkSession
    import spark.implicits._
    val e = edges.select(col("u").cast("long").as("u"),
        col("v").cast("long").as("v"), col("w").cast("long").as("w"))
      .localCheckpoint()
    var labels = e.select(col("u").as("n"))
      .unionByName(e.select(col("v").as("n"))).distinct()
      .select(col("n"), col("n").as("lab"))
      .localCheckpoint()
    var forest = e.filter(lit(false)).withColumn("round", lit(1))
    var r = 1
    var done = false
    while (r <= maxRounds && !done) {
      val pk = pickRound(e, labels).localCheckpoint()
      if (pk.isEmpty) { done = true }
      else {
        forest = forest.unionByName(pk.withColumn("round", lit(r)))
        // merge at the component grain: CC over (cu, cv) of the picks
        val cp = pk
          .join(labels.select(col("n").as("u"), col("lab").as("cu")), Seq("u"))
          .join(labels.select(col("n").as("v"), col("lab").as("cv")), Seq("v"))
          .select(col("cu"), col("cv"))
        val merged = Dedup.connectedComponents(cp, "cu", "cv")
          .select(col("id").as("lab"), col("component").as("newlab"))
        labels = labels.join(merged, Seq("lab"), "left")
          .select(col("n"), coalesce(col("newlab"), col("lab")).as("lab"))
          .localCheckpoint()
        r += 1
      }
    }
    require(done || {
      // converged exactly at the round budget is fine; a remaining
      // cross-component edge is not
      val remaining = e
        .join(labels.select(col("n").as("u"), col("lab").as("cu")), Seq("u"))
        .join(labels.select(col("n").as("v"), col("lab").as("cv")), Seq("v"))
        .filter(col("cu") =!= col("cv")).limit(1).count() == 0L
      remaining
    }, s"Borůvka did not converge within $maxRounds rounds")
    forest
  }

  /** ONE Borůvka round's pick frame, pre-checkpoint — the loop body of
    * [[boruvka]] (two label equi-joins, symmetrized comp frame,
    * struct-min per component, 2-cycle-collapsing distinct).
    */
  private def pickRound(e: DataFrame, labels: DataFrame): DataFrame = {
    val x = e
      .join(labels.select(col("n").as("u"), col("lab").as("cu")), Seq("u"))
      .join(labels.select(col("n").as("v"), col("lab").as("cv")), Seq("v"))
      .filter(col("cu") =!= col("cv"))
    val xs = x.select(col("u"), col("v"), col("w"), col("cu").as("comp"))
      .unionByName(x.select(col("u"), col("v"), col("w"),
        col("cv").as("comp")))
    // each component's minimum incident edge under the (w, u, v)
    // total order; the 2-cycle (two comps picking the same edge)
    // collapses in the distinct
    xs.groupBy(col("comp"))
      .agg(min(struct(col("w"), col("u"), col("v"))).as("m"))
      .select(col("m.u").as("u"), col("m.v").as("v"), col("m.w").as("w"))
      .distinct()
  }
}

package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Integer PageRank (Brin & Page 1998) over an undirected bipartite
  * graph, in EXACT scaled-integer arithmetic so every round — and
  * therefore the final ranking — is bit-identical across engines and
  * layouts: ranks live in micro-units (r₀ = 1 000 000), each round is
  *   r′(v) = 150 000 + (85 · Σ_{u→v} (r(u) div deg(u))) div 100
  * i.e. damping 0.85 with floor division everywhere (all operands
  * positive, so Spark's `div` and DuckDB's `//` agree). Floor losses
  * leak a little mass per round — irrelevant for ranking, essential
  * for determinism: no double SUM ever happens.
  *
  * 100 TB shape: the classic iterative-join formulation — each round
  * is ONE equi-join of the edge list to the current rank frame on the
  * source key plus ONE aggregation on the destination key (the same
  * skinny shape as pointer-jumping CC). The edge frame joins its
  * degree once up front and is localCheckpoint'ed (scanned k times);
  * rank frames are O(nodes) and stay UNmaterialized — at 5 rounds the
  * nested plan analyzes fine and per-round localCheckpoints measured
  * strictly slower (the lineage-truncation lesson applies to DEEP
  * chains, not k=5). Ranks always broadcast (see `run`). Symmetric
  * edges mean no dangling-mass correction is needed.
  */
object PageRank {

  /** Run `rounds` iterations over the symmetric edge list
    * `edges(u, v)` (must already be distinct; both directions
    * present). Returns (node LONG, rank LONG).
    *
    * Each round ships the O(nodes) rank frame to the edge partitions
    * as a broadcast — right whenever nodes ≪ edges (every bipartite
    * fact graph; measured 6.2 → 5.2 s iso at sf0.1 vs letting the
    * planner choose, and per-round localCheckpoints were strictly
    * slower at this depth — 5 rounds nest fine in one action).
    */
  def run(edges: DataFrame, rounds: Int): DataFrame = {
    val deg = edges.groupBy(col("u")).agg(count(lit(1)).as("deg"))
    val ed = edges.join(deg, Seq("u")).localCheckpoint()
    runPrepared(deg, ed, rounds)
  }

  /** The degree frame + degree-joined edge frame [[run]] and
    * [[runPersonalized]] derive on entry, built once and checkpointed —
    * for callers running SEVERAL PageRank variants over the same graph
    * (pagerank + ppr share one prepared pair via a session artifact;
    * r14's deferred item). Frames are identical to the per-run
    * derivation, so results are bit-identical.
    */
  def prepare(edges: DataFrame): (DataFrame, DataFrame) = {
    val deg = edges.groupBy(col("u")).agg(count(lit(1)).as("deg"))
      .localCheckpoint()
    val ed = edges.join(deg, Seq("u")).localCheckpoint()
    (deg, ed)
  }

  /** [[run]]'s round loop over a prepared (deg, ed) pair. */
  def runPrepared(deg: DataFrame, ed: DataFrame, rounds: Int): DataFrame = {
    var ranks = deg.select(col("u").as("node"), lit(1000000L).as("rank"))
      .localCheckpoint()
    (0 until rounds).foreach { _ =>
      ranks = ed
        .join(broadcast(ranks), ed("u") === ranks("node"))
        .select(col("v"), expr("rank div deg").as("contrib"))
        .groupBy(col("v"))
        .agg(expr("CAST(150000 + (85 * sum(contrib)) div 100 AS BIGINT)").as("rank"))
        .select(col("v").as("node"), col("rank"))
    }
    ranks
  }

  /** WEIGHTED PageRank over `edges(u, v, w)` (symmetric, weights
    * aggregated per direction — the TextRank formulation, Mihalcea &
    * Tarau 2004): a node's mass splits proportionally to edge weight,
    * contrib = (rank · w) div strength(u), with the same exact
    * scaled-integer rounds as [[run]] (r′ = 150000 + (85·Σ contrib)
    * div 100, r₀ = 1e6) so the oracle replays bit-for-bit. Weights
    * and strengths are BIGINT co-occurrence counts; rank·w stays far
    * under 2^63 at any corpus scale that fits a count. Ranks
    * broadcast, as in [[run]].
    */
  def runWeighted(edges: DataFrame, rounds: Int): DataFrame = {
    val st = edges.groupBy(col("u")).agg(sum(col("w")).as("s"))
    val ed = edges.join(st, Seq("u")).localCheckpoint()
    var ranks = st.select(col("u").as("node"), lit(1000000L).as("rank"))
      .localCheckpoint()
    (0 until rounds).foreach { _ =>
      ranks = ed
        .join(broadcast(ranks), ed("u") === ranks("node"))
        .select(col("v"), expr("(rank * w) div s").as("contrib"))
        .groupBy(col("v"))
        .agg(expr("CAST(150000 + (85 * sum(contrib)) div 100 AS BIGINT)").as("rank"))
        .select(col("v").as("node"), col("rank"))
    }
    ranks
  }

  /** Personalized PageRank (random walk with restart to a SEED set —
    * Haveliwala, WWW 2002): restart mass lands only on `seeds`, so
    * ranks measure graph PROXIMITY to the seeds rather than global
    * centrality — the recommendation/similar-entities primitive.
    * Same exact scaled-integer arithmetic as [[run]]:
    * r′(v) = [v ∈ S]·150000 + (85·Σ contrib) div 100, r₀ = 1e6 on
    * seeds and 0 elsewhere. Each round rebuilds the O(nodes) frame
    * from the node universe (left joins keep zero-rank nodes alive so
    * a node reachable in round k exists in round k−1's frame).
    */
  def runPersonalized(edges: DataFrame, seeds: DataFrame, rounds: Int): DataFrame = {
    val deg = edges.groupBy(col("u")).agg(count(lit(1)).as("deg"))
    val ed = edges.join(deg, Seq("u")).localCheckpoint()
    runPersonalizedPrepared(deg, ed, seeds, rounds)
  }

  /** [[runPersonalized]]'s body over a prepared (deg, ed) pair. */
  def runPersonalizedPrepared(
      deg: DataFrame, ed: DataFrame, seeds: DataFrame, rounds: Int): DataFrame = {
    // node universe with the per-round restart mass folded in ONCE
    // (checkpointed, scanned every round) — the naive form re-joined
    // the seed frame per round and measured 8.8 s vs global
    // PageRank's 8.1 in the same sweep; one broadcast damped-join per
    // round is the right shape
    val seed = seeds.select(col("node")).distinct().withColumn("is_seed", lit(1))
    val uni = deg.select(col("u").as("node"))
      .join(broadcast(seed), Seq("node"), "left")
      .select(col("node"),
        when(col("is_seed").isNotNull, 150000L).otherwise(0L).as("restart"))
      .localCheckpoint()
    var ranks = uni.select(col("node"),
      when(col("restart") > 0, 1000000L).otherwise(0L).as("rank"))
    (0 until rounds).foreach { _ =>
      val damped = ed
        .join(broadcast(ranks), ed("u") === ranks("node"))
        .select(col("v"), expr("rank div deg").as("contrib"))
        .groupBy(col("v"))
        .agg(expr("CAST((85 * sum(contrib)) div 100 AS BIGINT)").as("damped"))
        .select(col("v").as("node"), col("damped"))
      ranks = uni
        .join(broadcast(damped), Seq("node"), "left")
        .select(col("node"),
          (coalesce(col("damped"), lit(0L)) + col("restart")).as("rank"))
    }
    ranks.select(col("node"), col("rank"))
  }
}

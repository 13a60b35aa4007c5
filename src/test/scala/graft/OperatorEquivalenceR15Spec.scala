package graft

import org.apache.spark.sql.functions._

import graft.operators.{Dedup, GraphOps, PageRank}

/** r15 optimization-round tripwires: the operator-internal fast paths
  * added this round must be RESULT-IDENTICAL to the general paths.
  *
  * - lubyMis/greedyMatching `assumeCanonical = true` skips the
  *   defensive re-distinct — valid only because the caller warrants a
  *   distinct, u ≠ v input; on such input both paths must agree
  *   exactly (same winners, same rounds).
  * - PageRank.prepare + runPrepared / runPersonalizedPrepared must
  *   reproduce run / runPersonalized bit-for-bit (the prepared pair
  *   is the same (deg, ed) derivation, checkpointed).
  * - Dedup.ngramJaccardPairStats' `threshold` is only the final filter:
  *   PipelineQueries.perturbedPairStats computes the 0.3 pairs once and
  *   five oracle queries re-filter them at 0.5.
  */
class OperatorEquivalenceR15Spec extends SparkSuite {

  // Deterministic bipartite-ish multigraph, then canonicalized the way
  // the trade-graph artifact is: distinct, u ≠ v, both directions.
  private lazy val canonicalEdges = {
    val base = spark.range(0, 120).select(
      (col("id") % 17 * 2).as("u"), (col("id") % 23 * 2 + 1).as("v"))
    base.unionByName(base.select(col("v").as("u"), col("u").as("v")))
      .filter(col("u") =!= col("v")).distinct().localCheckpoint()
  }

  private def rows(df: org.apache.spark.sql.DataFrame): Seq[String] =
    df.collect().map(_.toString).sorted.toSeq

  test("lubyMis assumeCanonical path matches the general path") {
    val general = GraphOps.lubyMis(canonicalEdges, maxRounds = 8)
    val fast = GraphOps.lubyMis(canonicalEdges, maxRounds = 8,
      assumeCanonical = true)
    assert(rows(fast) == rows(general))
  }

  test("greedyMatching assumeCanonical path matches the general path") {
    // one-directional unique pairs (the greedy_matching_trade input)
    val pairs = canonicalEdges.filter(col("u") < col("v")).localCheckpoint()
    val general = GraphOps.greedyMatching(pairs, maxRounds = 8)
    val fast = GraphOps.greedyMatching(pairs, maxRounds = 8,
      assumeCanonical = true)
    assert(rows(fast) == rows(general))
  }

  test("PageRank.runPrepared over prepare() matches run()") {
    val (deg, ed) = PageRank.prepare(canonicalEdges)
    val prepared = PageRank.runPrepared(deg, ed, rounds = 4)
    val direct = PageRank.run(canonicalEdges, rounds = 4)
    assert(rows(prepared) == rows(direct))
  }

  test("PageRank.runPersonalizedPrepared over prepare() matches runPersonalized()") {
    val seeds = spark.range(1, 4).select((col("id") * 2).as("node"))
    val (deg, ed) = PageRank.prepare(canonicalEdges)
    val prepared = PageRank.runPersonalizedPrepared(deg, ed, seeds, rounds = 4)
    val direct = PageRank.runPersonalized(canonicalEdges, seeds, rounds = 4)
    assert(rows(prepared) == rows(direct))
  }

  test("ngramJaccardPairStats at 0.3, filtered to 0.5, equals the 0.5 run") {
    // 20-word base text; each variant swaps the words at the listed
    // positions, so the pairs spread over [0, 1] on word 4-grams
    val variants = Seq(Nil, Seq(19), Seq(10), Seq(5, 14), Seq(4, 9, 14),
      Seq(0, 7), 0 until 20)
    val docs = spark.createDataFrame(variants.zipWithIndex.map { case (swap, id) =>
      (id.toLong, (0 until 20).map(i => if (swap.contains(i)) s"x${id}_$i" else s"w$i")
        .mkString(" "))
    }).toDF("doc_id", "text")
    def stats(threshold: Double) =
      Dedup.ngramJaccardPairStats(docs, "doc_id", "text", n = 4, threshold = threshold)
    val low = stats(0.3)
    assert(low.filter(col("jaccard") < 0.5).count() > 0, "no pair in [0.3, 0.5)")
    assert(low.filter(col("jaccard") >= 0.5).count() > 0, "no pair at or above 0.5")
    assert(rows(low.filter(col("jaccard") >= 0.5)) == rows(stats(0.5)))
  }
}

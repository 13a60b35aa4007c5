package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Late-interaction (ColBERT-style MaxSim) retrieval over multi-vector
  * documents (Khattab & Zaharia, SIGIR 2020, public literature).
  *
  * Each row's embedding is interpreted as `slices` contiguous
  * sub-vectors (token/segment vectors packed flat — the layout a real
  * multi-vector store would use: one array column, no per-token rows).
  * Score(q, d) = Σ_i max_j dot(q_i, d_j): every query sub-vector picks
  * its best-matching document sub-vector independently, which preserves
  * fine-grained term-level matching that single-vector cosine averages
  * away.
  *
  * Scale shape (100 TB): the probe set broadcasts (probes are always
  * small — a query batch), the corpus scans ONCE with the whole score
  * computed by one codegen'd expression node
  * ([[graft.functions.MaxSimScore]] — S²·L multiplies, no sub-array
  * materialization), and per-query top-k runs through the native
  * bounded-heap [[graft.plans.TopKPerGroup]], so the exchange carries
  * ≤ k rows per (partition, query) — the identical shape as
  * [[Similarity.bruteForceTopK]], which is the point: late interaction
  * costs S² sub-dots per pair instead of 1, not a different plan. For
  * corpus-scale pruning compose with the IVF router
  * ([[IvfIndex]] / [[graft.functions.CentroidIds]]) on the flat vector
  * to route probes to candidate lists first; MaxSim then reranks the
  * candidate equi-join output instead of the full scan.
  */
object MaxSim {

  /** Exact MaxSim top-k for each probe against the corpus.
    * Output: (query_id, neighbor_id, rank, maxsim), rank 1..k,
    * deterministic tie-break by neighbor id; self-pairs excluded.
    */
  def lateInteractionTopK(
      corpus: DataFrame, probes: DataFrame,
      idCol: String, vecCol: String, slices: Int, k: Int): DataFrame = {
    val c = corpus.select(col(idCol).as("neighbor_id"), col(vecCol).as("vec_n"))
    val p = probes.select(col(idCol).as("query_id"), col(vecCol).as("vec_q"))
    val pairs = c.crossJoin(broadcast(p))
      .filter(col("neighbor_id") =!= col("query_id"))
      .withColumn("maxsim",
        graft.functions.exprs.maxSimScore(col("vec_q"), col("vec_n"), slices))
    Similarity.topKPerQuery(pairs, ("maxsim", true), k, "maxsim")
  }

  /** IVF-routed MaxSim: the corpus-scale pruning path. Corpus rows
    * assign to their nearest centroid list map-side
    * ([[graft.functions.CentroidIds]] on the FLAT vector — routing
    * stays single-vector cheap), probes fan out to `nprobe` lists, and
    * only the candidate equi-join on `list_id` pays the S² MaxSim
    * kernel — the same routed-candidates shape as
    * [[IvfIndex.searchWithCentroids]], with late interaction as the
    * scoring stage instead of cosine. A (query, neighbor) pair meets on
    * at most one list (corpus assignment is argmax-unique), so no
    * pair dedup is needed.
    */
  def ivfLateInteractionTopK(
      corpus: DataFrame, probes: DataFrame, idCol: String, vecCol: String,
      slices: Int, k: Int, cs: Seq[Seq[Double]], nprobe: Int): DataFrame = {
    import graft.functions.exprs.centroidIds
    val indexed = corpus.select(
      col(idCol).as("neighbor_id"), col(vecCol).as("vec_n"),
      element_at(centroidIds(col(vecCol), cs, 1), 1).as("list_id"))
    val fanned = probes.select(
      col(idCol).as("query_id"), col(vecCol).as("vec_q"),
      explode(centroidIds(col(vecCol), cs, nprobe)).as("list_id"))
    val pairs = indexed.join(fanned, Seq("list_id"))
      .filter(col("neighbor_id") =!= col("query_id"))
      .withColumn("maxsim",
        graft.functions.exprs.maxSimScore(col("vec_q"), col("vec_n"), slices))
    Similarity.topKPerQuery(pairs, ("maxsim", true), k, "maxsim")
  }
}

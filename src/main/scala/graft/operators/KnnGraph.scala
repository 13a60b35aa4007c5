package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.functions.exprs.centroidIds

/** Corpus-wide k-nearest-neighbor GRAPH construction: every node is
  * both probe and candidate — the backbone structure SemDeDup-style
  * semantic clustering, graph-based curation, and skip-gram-over-
  * neighborhood embedding pipelines consume (vs the `ann_*` operators,
  * which rank candidates for a small probe SET).
  *
  * Scale shape: candidates come from the IVF router as ONE equi-join
  * on the inverted-list id — each node indexes into its nearest list
  * and probes its `nprobe` nearest lists, so a pair (q, n) arises iff
  * n's home list is among q's probe lists (at most once: no pair
  * dedup needed, unlike the LSH multi-table join). Candidate volume is
  * Σ_lists |list| · |probes into list| ≈ N²·nprobe/nlist on
  * unclustered data and far less on real clustered corpora — never an
  * all-pairs product, and nlist grows with the corpus (√N rule of
  * thumb) so list sizes stay bounded. The candidate join carries IDS
  * ONLY; vectors re-attach by id for the exact-cosine verify (the
  * 30× shuffle-volume lesson), and the per-node cut is the native
  * bounded-heap [[graft.plans.TopKPerGroup]] — no per-group sort.
  *
  * The (id, vec, norm, probe lists) base frame is localCheckpoint'ed:
  * it feeds the index side, the probe side, and both verify re-attach
  * joins — four consumers (the multi-consumer lineage rule).
  */
object KnnGraph {

  /** kNN graph against a fixed centroid table, such as one trained by
    * the deterministic exact-integer k-means of [[IvfIndex]]
    * (bit-replayable end to end). Output: (query_id, neighbor_id, rank,
    * cosine_sim), rank 1..k per node, ties broken by neighbor id.
    */
  def buildWithCentroids(
      corpus: DataFrame, idCol: String, vecCol: String, k: Int,
      cs: Seq[Seq[Double]], nprobe: Int): DataFrame = {
    require(nprobe >= 1 && nprobe <= cs.length, s"nprobe $nprobe out of range")
    val base = corpus.select(
        col(idCol).as("id"), col(vecCol).as("vec"),
        Similarity.l2Norm(col(vecCol)).as("norm"),
        centroidIds(col(vecCol), cs, nprobe).as("probe_lists"))
      .localCheckpoint()
    // home list = nearest centroid = first probe list (CentroidIds
    // returns the nprobe nearest ids in ascending distance order)
    val idx = base.select(col("id").as("neighbor_id"),
      element_at(col("probe_lists"), 1).as("list_id"))
    val probe = base.select(col("id").as("query_id"),
      explode(col("probe_lists")).as("list_id"))
    val cand = idx.join(probe, Seq("list_id"))
      .filter(col("neighbor_id") =!= col("query_id"))
      .select(col("query_id"), col("neighbor_id"))
    Similarity.topKPerQuery(rescore(cand, base), ("cosine_sim", true), k, "cosine_sim")
  }

  /** SKEW-ROBUST graph build: [[buildWithCentroids]] with a LIST-SIZE
    * CAP. The IVF router assumes roughly balanced lists; a clustered
    * corpus routes a hot region into ONE list, whose candidate join
    * partition goes quadratic (the LSH bucket-cap lesson — except a
    * frequency cap here would silently drop true neighbors). Instead,
    * oversize lists SUB-SPLIT: each list of size `sz` shards into
    * ceil(sz/listCap) sub-lists by a deterministic hash of the member
    * id, and every probe into that list probes ALL of its shards — the
    * candidate SET is exactly [[buildWithCentroids]]'s (recall
    * identical by construction, spec-asserted), but no join task holds
    * more than ~listCap corpus rows per key. This is measured-size
    * salting: the shard table derives from a per-list count aggregate
    * (nlist rows — broadcast), so the cap adapts to the actual skew
    * instead of a guessed salt factor. Probe-side replication grows
    * only into the shards of the lists a probe already probes —
    * candidate volume is unchanged.
    */
  def buildWithCentroidsCapped(
      corpus: DataFrame, idCol: String, vecCol: String, k: Int,
      cs: Seq[Seq[Double]], nprobe: Int, listCap: Long): DataFrame = {
    require(nprobe >= 1 && nprobe <= cs.length, s"nprobe $nprobe out of range")
    require(listCap >= 1, s"listCap $listCap must be positive")
    val base = corpus.select(
        col(idCol).as("id"), col(vecCol).as("vec"),
        Similarity.l2Norm(col(vecCol)).as("norm"),
        centroidIds(col(vecCol), cs, nprobe).as("probe_lists"))
      .localCheckpoint()
    val homes = base.select(col("id").as("neighbor_id"),
      element_at(col("probe_lists"), 1).as("list_id"))
    // nlist rows: the shard count per list, derived from measured sizes
    val shardCounts = homes.groupBy(col("list_id"))
      .agg(ceil(count(lit(1)).cast("double") / listCap).cast("int").as("n_shards"))
    val idx = homes
      .join(broadcast(shardCounts), Seq("list_id"))
      .select(col("list_id"),
        pmod(hash(col("neighbor_id")), col("n_shards")).as("shard"),
        col("neighbor_id"))
    // each probe replicates into every shard of each probed list
    val probe = base.select(col("id").as("query_id"),
        explode(col("probe_lists")).as("list_id"))
      .join(broadcast(shardCounts), Seq("list_id"))
      .select(col("query_id"), col("list_id"),
        explode(sequence(lit(0), col("n_shards") - 1)).as("shard"))
    val cand = idx.join(probe, Seq("list_id", "shard"))
      .filter(col("neighbor_id") =!= col("query_id"))
      .select(col("query_id"), col("neighbor_id"))
    Similarity.topKPerQuery(rescore(cand, base), ("cosine_sim", true), k, "cosine_sim")
  }

  /** INCREMENTAL graph maintenance against a FIXED quantizer: `base`
    * nodes already hold `baseKnn` (their top-k over the base corpus,
    * built with the SAME centroids/nprobe); `fresh` vectors arrive.
    * New work is proportional to the fresh batch, not the corpus:
    *  - fresh nodes probe the full (base ∪ fresh) index — one list-id
    *    equi-join whose probe side is the fresh batch;
    *  - base nodes can only GAIN candidates from fresh vectors (their
    *    base candidates are already folded into baseKnn), so the only
    *    base-side work is base-probes ⋈ fresh-index;
    *  - the merge is top-k(top-k(base) ∪ new-candidates) ≡
    *    top-k(all candidates) — the standard bounded-heap merge
    *    identity, which is what makes the result EQUAL to a full
    *    rebuild over base ∪ fresh (spec-asserted).
    * The fixed quantizer is the production contract (the IVF index
    * artifact); retrain-then-rebuild is a separate, rarer event.
    */
  def appendWithCentroids(
      baseKnn: DataFrame, base: DataFrame, fresh: DataFrame,
      idCol: String, vecCol: String, k: Int,
      cs: Seq[Seq[Double]], nprobe: Int): DataFrame = {
    require(nprobe >= 1 && nprobe <= cs.length, s"nprobe $nprobe out of range")
    def prep(df: DataFrame): DataFrame = df.select(
        col(idCol).as("id"), col(vecCol).as("vec"),
        Similarity.l2Norm(col(vecCol)).as("norm"),
        centroidIds(col(vecCol), cs, nprobe).as("probe_lists"))
      .localCheckpoint()
    val b = prep(base)
    val f = prep(fresh)
    def idx(df: DataFrame) = df.select(col("id").as("neighbor_id"),
      element_at(col("probe_lists"), 1).as("list_id"))
    def probe(df: DataFrame) = df.select(col("id").as("query_id"),
      explode(col("probe_lists")).as("list_id"))
    val cand = idx(b).unionByName(idx(f)).join(probe(f), Seq("list_id"))
      .unionByName(idx(f).join(probe(b), Seq("list_id")))
      .filter(col("neighbor_id") =!= col("query_id"))
      .select(col("query_id"), col("neighbor_id"))
    val all = b.unionByName(f)
    val scored = cand
      .join(reattach(all, "neighbor_id", "n"), "neighbor_id")
      .join(reattach(all, "query_id", "q"), "query_id")
      .select(col("query_id"), col("neighbor_id"),
        Similarity.sideCosine("n", "q").as("cosine_sim"))
    val merged = baseKnn
      .select(col("query_id"), col("neighbor_id"), col("cosine_sim"))
      .unionByName(scored)
    Similarity.topKPerQuery(merged, ("cosine_sim", true), k, "cosine_sim")
  }

  /** Memory-bounded graph construction — the IVFADC composition
    * applied corpus-wide: candidates come from the same list-id
    * equi-join as [[buildWithCentroids]], but scoring is TWO-stage —
    * integer ADC over M-byte PQ codes cuts each node's candidates to
    * a `shortK` shortlist (per-pair cost M table lookups; the
    * candidate join moves codes + the per-node M×ksub ADC table, not
    * raw vectors), then full vectors re-attach for shortlist rows
    * only (≤ N·shortK — the skinny-shuffle rule) and exact cosine
    * picks the final k. At production dims the corpus-side memory is
    * M bytes/vector instead of 4·dim — the difference between a
    * graph build that fits executor memory at 100 TB and one that
    * doesn't. Probe-side ADC tables are join-distributed (every node
    * is a probe — nothing broadcasts), unlike the small-probe-set
    * `PqIndex.ivfAdcTopK`.
    */
  def buildIvfPq(
      corpus: DataFrame, idCol: String, vecCol: String, k: Int, shortK: Int,
      coarse: Seq[Seq[Double]], codebooks: Seq[Seq[Seq[Long]]],
      nprobe: Int): DataFrame = {
    import graft.functions.exprs.{adcDistance, pqAdcTable, pqCodes}
    require(shortK >= k, s"shortK $shortK must be ≥ k $k")
    val ksub = codebooks.head.length
    val base = corpus.select(
        col(idCol).as("id"), col(vecCol).as("vec"),
        Similarity.l2Norm(col(vecCol)).as("norm"),
        centroidIds(col(vecCol), coarse, nprobe).as("probe_lists"),
        pqCodes(col(vecCol), codebooks).as("codes"),
        pqAdcTable(col(vecCol), codebooks).as("tbl"))
      .localCheckpoint()
    val idx = base.select(col("id").as("neighbor_id"),
      element_at(col("probe_lists"), 1).as("list_id"), col("codes"))
    val probe = base.select(col("id").as("query_id"),
      explode(col("probe_lists")).as("list_id"), col("tbl"))
    val shortlist = graft.plans.TopKPerGroup(
      idx.join(probe, Seq("list_id"))
        .filter(col("neighbor_id") =!= col("query_id"))
        .withColumn("adc_dist", adcDistance(col("codes"), col("tbl"), ksub)),
      Seq("query_id"), Seq(("adc_dist", false), ("neighbor_id", false)), shortK)
      .select(col("query_id"), col("neighbor_id"))
    Similarity.topKPerQuery(rescore(shortlist, base), ("cosine_sim", true), k)
  }

  /** ONE NN-descent round (Dong, Moses & Li, WWW 2011: "a neighbor of
    * a neighbor is likely a neighbor"): candidates = the current
    * edges ∪ the forward 2-hop closure (q→v→w ⇒ try q→w), exact
    * rescore, re-cut to top-k. The closure is ONE self equi-join on
    * the k-bounded edge list (≤ N·k² candidate rows before dedup —
    * never corpus²), so a round costs a fixed multiple of the graph
    * size; rounds monotonically improve recall (the candidate set
    * only grows and the heap keeps the best). This is how production
    * kNN-graph builders close the recall gap the coarse router leaves.
    */
  def refine(
      knn: DataFrame, corpus: DataFrame, idCol: String, vecCol: String,
      k: Int): DataFrame = {
    val e = knn.select(col("query_id"), col("neighbor_id")).localCheckpoint()
    val twoHop = e.select(col("query_id"), col("neighbor_id").as("mid"))
      .join(e.select(col("query_id").as("mid"), col("neighbor_id")), Seq("mid"))
      .filter(col("query_id") =!= col("neighbor_id"))
      .select(col("query_id"), col("neighbor_id"))
    val cand = e.unionByName(twoHop)
      .dropDuplicates("query_id", "neighbor_id")
    val side = corpus.select(col(idCol).as("id"), col(vecCol).as("vec"),
        Similarity.l2Norm(col(vecCol)).as("norm"))
      .localCheckpoint()
    Similarity.topKPerQuery(rescore(cand, side), ("cosine_sim", true), k, "cosine_sim")
  }

  /** `base`'s (id, vec, norm) as one side of the rerank join. */
  private def reattach(base: DataFrame, idAs: String, s: String): DataFrame =
    Similarity.side(base, "id", "vec", col("norm"), idAs, s)

  /** `cand`'s (query_id, neighbor_id) pairs with both vectors re-attached
    * by id from `base` and scored as `cosine_sim`.
    */
  private def rescore(cand: DataFrame, base: DataFrame): DataFrame =
    cand
      .join(reattach(base, "neighbor_id", "n"), "neighbor_id")
      .join(reattach(base, "query_id", "q"), "query_id")
      .withColumn("cosine_sim", Similarity.sideCosine("n", "q"))

  /** Mutual-kNN edges of a built graph: (a, b) survives iff a→b AND
    * b→a are both kNN edges — the standard sparsification before
    * community/cluster rollups (mutual edges are the high-precision
    * core). One self equi-join on the (already k-bounded) edge list;
    * each undirected edge emitted once (a < b).
    */
  def mutualEdges(knn: DataFrame): DataFrame = {
    val e = knn.select(col("query_id").as("a"), col("neighbor_id").as("b"))
    e.join(e.select(col("b").as("a2"), col("a").as("b2")),
        col("a") === col("a2") && col("b") === col("b2"))
      .filter(col("a") < col("b"))
      .select(col("a"), col("b"))
  }
}

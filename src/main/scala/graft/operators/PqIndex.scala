package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.functions.exprs.{adcDistance, pqAdcTable, pqCodes}

/** Product-quantization ANN (Jégou, Douze, Schmid — "Product
  * Quantization for Nearest Neighbor Search", TPAMI 2011): the
  * compressed-domain third scale path next to hyperplane LSH
  * ([[Similarity.lshTopK]]) and IVF-Flat ([[IvfIndex]]).
  *
  * The vector space splits into M subspaces; each subspace gets its
  * own ksub-entry codebook, and a corpus vector stores only M small
  * code ids (M bytes at ksub ≤ 256 — a 64-dim float vector compresses
  * 256 B → 8 B). Search is ASYMMETRIC DISTANCE (ADC): the probe
  * precomputes one M × ksub table of exact subspace distances, and
  * each candidate costs M table lookups instead of a dim-length dot —
  * at 100 TB the corpus-side scan touches codes only (the vectors
  * never re-shuffle), and the probe tables ride the broadcast.
  *
  * Everything stays on [[IvfIndex]]'s exact integer w grid
  * (`floor(v·1024)+4096`): encode argmins, table entries, and ADC
  * sums are all integer arithmetic — bit-replayable by the DuckDB
  * oracle (`ann_pq_fixed_topk`), with ties broken by lower code id /
  * lower neighbor id. Codebooks come either seeded (the fixed
  * "pre-trained index artifact" path, like [[IvfIndex.seededCentroids]])
  * or trained per subspace by the SAME deterministic sample +
  * exact-integer Lloyd core IVF training uses ([[IvfIndex.lloydGridQ]]
  * — one sample collect, M in-memory trainings).
  */
object PqIndex {

  /** Seeded w-grid codebooks — the fixed/pre-trained path. Gaussian
    * draws land well inside the exact range (|g|·1024 ≪ 2^15−4096).
    */
  def seededCodebooks(dim: Int, m: Int, ksub: Int, seed: Long): Seq[Seq[Seq[Long]]] = {
    require(m > 0 && dim % m == 0, s"M=$m must divide dim=$dim")
    val ds = dim / m
    val rng = new scala.util.Random(seed)
    IndexedSeq.fill(m)(IndexedSeq.fill(ksub)(IndexedSeq.fill(ds)(
      math.floor(rng.nextGaussian() * 1024.0).toLong + IvfIndex.QuantOffset)))
  }

  /** Per-subspace codebooks trained on the shared deterministic
    * hash-ordered sample: one corpus collect, then M runs of the
    * exact-integer Lloyd core over subvector slices (seed varies per
    * subspace). Results snap from the q grid back to the w grid by
    * integer floor-division — still layout/engine-independent.
    */
  def trainCodebooks(
      corpus: DataFrame, idCol: String, vecCol: String,
      m: Int, ksub: Int, sampleSize: Int = 10000, iters: Int = 5,
      seed: Long = 42L): Seq[Seq[Seq[Long]]] = {
    val sample = IvfIndex.sampleGrid(corpus, idCol, vecCol, sampleSize)
    val dim = sample.head.length
    require(m > 0 && dim % m == 0, s"M=$m must divide dim=$dim")
    val ds = dim / m
    (0 until m).map { mi =>
      val sub = sample.map(v => java.util.Arrays.copyOfRange(v, mi * ds, (mi + 1) * ds))
      IvfIndex.lloydGridQ(sub, ksub, iters, seed + mi)
        .map(_.map(_ / 1024L).toIndexedSeq).toIndexedSeq
    }
  }

  /** ADC top-k search: corpus encodes to M codes map-side; probes
    * build their lookup tables map-side and broadcast; per-pair cost
    * is M integer lookups; bounded-heap [[graft.plans.TopKPerGroup]]
    * keeps the top k per probe (ascending ADC distance, ties → lower
    * neighbor id). Output: (query_id, neighbor_id, rank, adc_dist).
    */
  def topK(
      corpus: DataFrame, probes: DataFrame, idCol: String, vecCol: String,
      k: Int, codebooks: Seq[Seq[Seq[Long]]]): DataFrame = {
    val ksub = codebooks.head.length
    val coded = corpus.select(
      col(idCol).as("neighbor_id"),
      pqCodes(col(vecCol), codebooks).as("codes"))
    val tabled = probes.select(
      col(idCol).as("query_id"),
      pqAdcTable(col(vecCol), codebooks).as("tbl"))
    val pairs = coded.crossJoin(broadcast(tabled))
      .filter(col("neighbor_id") =!= col("query_id"))
      .withColumn("adc_dist", adcDistance(col("codes"), col("tbl"), ksub))
    Similarity.topKPerQuery(pairs, ("adc_dist", false), k, "adc_dist")
  }

  /** IVF-routed PQ search — the IVFPQ composition (Jégou et al.'s
    * IVFADC system shape, here with PQ over raw vectors rather than
    * residuals, the `by_residual=false` variant public IVFPQ
    * implementations also ship): the coarse quantizer
    * ([[IvfIndex.seededCentroids]] + the proven CentroidIds kernel)
    * routes every corpus vector to one inverted list and each probe to
    * its `nprobe` nearest lists, and candidates are scored by integer
    * ADC over codes. The candidate stage is an EQUI-join on list id —
    * no cross join at all — touching M-byte codes only; compared
    * candidates shrink to ≈ corpus × nprobe / nlist on top of PQ's
    * per-pair O(M) cost.
    */
  def ivfAdcTopK(
      corpus: DataFrame, probes: DataFrame, idCol: String, vecCol: String,
      k: Int, coarse: Seq[Seq[Double]], codebooks: Seq[Seq[Seq[Long]]],
      nprobe: Int): DataFrame = {
    import graft.functions.exprs.centroidIds
    val ksub = codebooks.head.length
    val coded = corpus.select(
      col(idCol).as("neighbor_id"),
      element_at(centroidIds(col(vecCol), coarse, 1), 1).as("list_id"),
      pqCodes(col(vecCol), codebooks).as("codes"))
    val probed = probes.select(
      col(idCol).as("query_id"),
      pqAdcTable(col(vecCol), codebooks).as("tbl"),
      explode(centroidIds(col(vecCol), coarse, nprobe)).as("list_id"))
    val pairs = coded.join(broadcast(probed), Seq("list_id"))
      .filter(col("neighbor_id") =!= col("query_id"))
      .withColumn("adc_dist", adcDistance(col("codes"), col("tbl"), ksub))
    Similarity.topKPerQuery(pairs, ("adc_dist", false), k, "adc_dist")
  }

  /** Two-stage search — the standard production composition: the
    * corpus-wide pass is compressed-domain ADC (codes only) down to a
    * `shortK` shortlist, then full vectors re-attach for ONLY
    * shortlist rows (≤ probes × shortK — the skinny-shuffle rule) and
    * an exact cosine rerank ([[Similarity.cosineFromNorms]], the rule
    * the IVF/LSH oracles replay bit-exactly) picks the final k.
    */
  def rerankTopK(
      corpus: DataFrame, probes: DataFrame, idCol: String, vecCol: String,
      k: Int, shortK: Int, codebooks: Seq[Seq[Seq[Long]]]): DataFrame = {
    val shortlist = topK(corpus, probes, idCol, vecCol, shortK, codebooks)
      .select(col("query_id"), col("neighbor_id"))
    val nSide = Similarity.side(
      corpus, idCol, vecCol, Similarity.l2Norm(col(vecCol)), "neighbor_id", "n")
    val qSide = Similarity.side(
      probes, idCol, vecCol, Similarity.l2Norm(col(vecCol)), "query_id", "q")
    val rescored = shortlist
      .join(nSide, Seq("neighbor_id"))
      .join(broadcast(qSide), Seq("query_id"))
      .withColumn("cosine_sim", Similarity.sideCosine("n", "q"))
    Similarity.topKPerQuery(rescored, ("cosine_sim", true), k)
  }

  /** Seeded RESIDUAL-scale codebook for RQ level 2: Gaussian·256
    * centered at zero (residuals live around 0, unlike the w grid).
    */
  def seededResidualCodebook(dim: Int, k: Int, seed: Long): Seq[Seq[Long]] = {
    val rng = new scala.util.Random(seed)
    IndexedSeq.fill(k)(IndexedSeq.fill(dim)(
      math.floor(rng.nextGaussian() * 256.0).toLong))
  }

  /** Residual-quantization ADC top-k (Chen, Guan & Wang, Sensors
    * 2010) — the RQ member of the quantization family: level 1
    * quantizes the full vector, level 2 quantizes the RESIDUAL
    * (sequential greedy encode — [[graft.functions.RqCodes]]), so two
    * 4-bit codes span |cb1|·|cb2| effective cells at additive (not
    * multiplicative-in-dim) codebook cost. Scoring rides the existing
    * integer ADC path over the COMBINED codebook cb1(i)+cb2(j) with
    * M=1: exact ||w_q − (c1+c2)||², one table lookup per candidate —
    * so the whole search is bit-replayable by the SQL oracle
    * (`ann_rq_topk`). Output: (query_id, neighbor_id, rank, adc_dist).
    */
  def rqTopK(
      corpus: DataFrame, probes: DataFrame, idCol: String, vecCol: String,
      k: Int, cb1: Seq[Seq[Long]], cb2: Seq[Seq[Long]]): DataFrame = {
    import graft.functions.exprs.rqCodes
    val n2 = cb2.length
    val combined: Seq[Seq[Long]] =
      for (a <- cb1; b <- cb2) yield a.zip(b).map { case (x, y) => x + y }
    val coded = corpus.select(
      col(idCol).as("neighbor_id"),
      rqCodes(col(vecCol), cb1, cb2).as("codes"))
    val tabled = probes.select(
      col(idCol).as("query_id"),
      pqAdcTable(col(vecCol), Seq(combined)).as("tbl"))
    val pairs = coded.crossJoin(broadcast(tabled))
      .filter(col("neighbor_id") =!= col("query_id"))
      .withColumn("adc_dist", adcDistance(
        array(element_at(col("codes"), 1) * n2 + element_at(col("codes"), 2)),
        col("tbl"), cb1.length * n2))
    Similarity.topKPerQuery(pairs, ("adc_dist", false), k, "adc_dist")
  }
}

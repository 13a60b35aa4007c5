package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.functions.exprs.centroidIds

/** IVF (inverted-file) approximate nearest neighbor — the second scale
  * path next to hyperplane LSH ([[Similarity.lshTopK]]), following the
  * classic IVF-Flat design (Jégou et al., "Product Quantization for
  * Nearest Neighbor Search", TPAMI 2011 — coarse quantizer + inverted
  * lists; no PQ compression here).
  *
  * Train: k-means on a driver-side sample (at 100 TB you sample a few
  * 100k vectors — centroid quality needs samples, not the corpus; the
  * training set never exceeds `sampleSize`). Deterministic END TO END:
  * the sample is the `sampleSize` lowest rows by `(md5(id), id)` — a
  * pure function of the key set, taken with TakeOrderedAndProject
  * (per-partition bounded heaps, no full sort, no first-partition
  * bias) — and the k-means itself runs in EXACT INTEGER arithmetic on
  * a quantized grid (coordinates `floor(v·1024)+4096`, centroid state
  * on grid 2^20 via integer floor-division means), so farthest-point
  * init, assignment argmins, and Lloyd updates are order- and
  * engine-independent: DuckDB replays the identical training from the
  * same parquet (see PipelineQueries.trainedIvfOracleSql), which is
  * what lets the TRAINED path carry a bit-exact oracle, not just the
  * fixed-quantizer one. Final centroids are exactly-representable
  * doubles (`q/2^20 − 4`), so serving reuses the same proven
  * CentroidIds kernel/oracle recipe as the fixed path.
  *
  * Index: one scan assigns each vector to its nearest centroid
  * (broadcast centroid literals, argmin over `nlist` dot products —
  * scan-parallel, no shuffle).
  *
  * Search: probes visit only the `nprobe` nearest inverted lists —
  * an equi-join on centroid id replaces the full crossJoin, cutting
  * compared candidates to ≈ corpus × nprobe / nlist.
  */
object IvfIndex {

  /** Quantization grid: coordinates become `floor(v·1024) + OFFSET`,
    * non-negative for embeddings with |v| < 4096 — which makes every
    * integer division a floor division on BOTH engines (truncation =
    * floor for non-negatives) and keeps all distance sums within
    * Long/BIGINT range.
    */
  private[graft] val QuantOffset = 4096L

  /** Deterministic exact-integer k-means over a hash-ordered sample.
    * Every arithmetic step (quantize, farthest-point init, assignment
    * argmin, Lloyd floor-div means) is integer — no float summation
    * anywhere — so the result is a pure function of the key→vector
    * map, independent of layout, engine, or iteration order. Returns
    * centroids as exactly-representable doubles in the original
    * embedding space.
    */
  private[graft] def trainCentroids(
      corpus: DataFrame, idCol: String, vecCol: String, nlist: Int,
      sampleSize: Int, iters: Int, seed: Long): Array[Array[Double]] =
    lloydGridQ(sampleGrid(corpus, idCol, vecCol, sampleSize), nlist, iters, seed)
      .map(_.map(x => x.toDouble / 1048576.0 - 4.0))

  /** The deterministic hash-ordered training sample, quantized to the
    * w grid — shared by IVF (full vectors) and PQ (subvector slices).
    */
  private[graft] def sampleGrid(
      corpus: DataFrame, idCol: String, vecCol: String,
      sampleSize: Int): Array[Array[Long]] = {
    val sample: Array[Array[Long]] = corpus
      .select(col(idCol), col(vecCol))
      .orderBy(md5(col(idCol).cast("string")), col(idCol))
      .limit(sampleSize)
      .collect()
      .map(_.getSeq[Float](1).map { f =>
        val w = math.floor(f.toDouble * 1024.0).toLong + QuantOffset
        require(w >= 0 && w <= (1L << 15),
          s"embedding coordinate $f outside the exact quantization range")
        w
      }.toArray)
    require(sample.nonEmpty, "empty corpus")
    sample
  }

  /** The exact-integer Lloyd core over a w-grid sample; returns
    * centroids on the q grid (= w·1024, snapped by integer floor-div
    * means each round). Shared by IVF and the per-subspace PQ
    * codebook training ([[PqIndex]]).
    */
  private[graft] def lloydGridQ(
      sample: Array[Array[Long]], nlist: Int, iters: Int,
      seed: Long): Array[Array[Long]] = {
    val dim = sample.head.length
    // Overflow headroom: |w·1024| ≤ 2^25 ⇒ per-term (Δ)² ≤ 2^52, and
    // dim ≤ 256 keeps every distance sum below 2^60 — exact in Long
    // here and BIGINT in the oracle.
    require(dim <= 256, s"dim $dim exceeds the exact-integer distance bound")
    val n = sample.length

    // farthest-point init from a seeded start: integer distances on
    // the w grid; strict > keeps the FIRST (lowest sample position)
    // argmax — the tie-break the SQL twin restates as ORDER BY
    // (min_dist DESC, pos).
    val centroids = scala.collection.mutable.ArrayBuffer[Array[Long]]()
    centroids += sample((seed % n).toInt.abs)
    while (centroids.length < math.min(nlist, n)) {
      var best: Array[Long] = null
      var bestD = -1L
      sample.foreach { v =>
        var md = Long.MaxValue
        centroids.foreach { c => val d = sqDistL(v, c); if (d < md) md = d }
        if (md > bestD) { bestD = md; best = v }
      }
      centroids += best
    }

    // Lloyd state on grid 2^20: q ≈ mean(w)·1024, snapped by integer
    // floor division so both engines hold the identical state.
    var q: Array[Array[Long]] = centroids.map(_.map(_ * 1024L)).toArray
    var it = 0
    while (it < iters) {
      val sums = Array.fill(q.length)(new Array[Long](dim))
      val counts = new Array[Int](q.length)
      sample.foreach { v =>
        // assignment: strict < keeps the lowest centroid id on ties
        var best = 0; var bestD = Long.MaxValue; var ci = 0
        while (ci < q.length) {
          val c = q(ci)
          var s = 0L; var j = 0
          while (j < dim) { val d = v(j) * 1024L - c(j); s += d * d; j += 1 }
          if (s < bestD) { bestD = s; best = ci }
          ci += 1
        }
        counts(best) += 1
        var j = 0
        while (j < dim) { sums(best)(j) += v(j); j += 1 }
      }
      q = q.indices.map { i =>
        if (counts(i) == 0) q(i)
        else sums(i).map(s => (s * 1024L) / counts(i))
      }.toArray
      it += 1
    }
    q
  }

  private def sqDistL(a: Array[Long], b: Array[Long]): Long = {
    var s = 0L; var i = 0
    while (i < a.length) { val d = a(i) - b(i); s += d * d; i += 1 }
    s
  }

  /** Deterministic seeded Gaussian centroids — the "load a pre-trained
    * coarse quantizer" path. Production IVF separates training from
    * serving (the quantizer is a fixed index artifact); a seed-derived
    * centroid table makes the whole search path reproducible by a SQL
    * oracle (centroids and half-norms inline as literals).
    */
  def seededCentroids(dim: Int, nlist: Int, seed: Long): IndexedSeq[IndexedSeq[Double]] = {
    val rng = new scala.util.Random(seed)
    IndexedSeq.fill(nlist)(IndexedSeq.fill(dim)(rng.nextGaussian()))
  }

  /** IVF top-k search. Output shape = [[Similarity.bruteForceTopK]].
    *
    * Assignment and probe fan-out run through the
    * [[graft.functions.CentroidIds]] kernel — centroids live inside one
    * expression node instead of a nlist × dim literal forest (‖v−c‖² =
    * ‖v‖² − 2v·c + ‖c‖², row-constant ‖v‖² dropped from the argmin).
    * Cosine rerank uses per-side precomputed norms.
    */
  def topK(
      corpus: DataFrame, probes: DataFrame, idCol: String, vecCol: String,
      k: Int, nlist: Int = 16, nprobe: Int = 4,
      sampleSize: Int = 10000, iters: Int = 5, seed: Long = 42L): DataFrame = {
    val cs = trainCentroids(corpus, idCol, vecCol, nlist, sampleSize, iters, seed)
      .map(_.toIndexedSeq).toIndexedSeq
    searchWithCentroids(corpus, probes, idCol, vecCol, k, cs, nprobe)
  }

  /** IVF search against a fixed (pre-trained / seeded) centroid table. */
  def searchWithCentroids(
      corpus: DataFrame, probes: DataFrame, idCol: String, vecCol: String,
      k: Int, cs: Seq[Seq[Double]], nprobe: Int): DataFrame = {
    val indexed = Similarity.side(
      corpus, idCol, vecCol, Similarity.l2Norm(col(vecCol)), "neighbor_id", "n",
      element_at(centroidIds(col(vecCol), cs, 1), 1).as("list_id"))
    searchLists(indexed, probes, idCol, vecCol, k, cs, nprobe)
  }

  /** The search half of [[searchWithCentroids]] over already-assigned
    * inverted lists `indexed` (neighbor_id, vec_n, norm_n, list_id):
    * probes fan out to their `nprobe` nearest lists, one equi-join on
    * `list_id`, cosine rerank, per-query top-k. [[IvfStore.probe]]
    * serves its stored lists through it.
    */
  private[operators] def searchLists(
      indexed: DataFrame, probes: DataFrame, idCol: String, vecCol: String,
      k: Int, cs: Seq[Seq[Double]], nprobe: Int): DataFrame = {
    val fanned = Similarity.side(
      probes, idCol, vecCol, Similarity.l2Norm(col(vecCol)), "query_id", "q",
      explode(centroidIds(col(vecCol), cs, nprobe)).as("list_id"))
    val pairs = indexed.join(fanned, Seq("list_id"))
      .filter(col("neighbor_id") =!= col("query_id"))
      .withColumn("cosine_sim", Similarity.sideCosine("n", "q"))
    Similarity.topKPerQuery(pairs, ("cosine_sim", true), k, "cosine_sim")
  }
}

package graft.queries

import graft.Tables

/** Session-scoped TRAINED COARSE QUANTIZER for the embeddings corpus —
  * the artifact rule applied to IVF training: ~10 queries (the
  * kNN-graph family, SemDeDup, triangles, routed DBSCAN, the retrain
  * eval's "new" quantizer) each re-ran the identical deterministic
  * k-means (same corpus, nlist=16, sample 10000, 5 iters, seed 42) —
  * a corpus-scale training job per query. The index a production
  * pipeline trains once per corpus version trains once per
  * (session, corpus dir) here; the oracles are unaffected because
  * they replay training from the table (trainedIvfRankedCtes), which
  * is identical no matter how many times the engine evaluates it.
  * Queries with NON-standard training (subset corpora, other seeds —
  * e.g. the retrain eval's "old" quantizer over the base slice) keep
  * calling IvfIndex.trainCentroids directly.
  */
object IvfArtifacts {

  val centroids = new SessionScopedCache[IndexedSeq[IndexedSeq[Double]]](
    "IvfArtifacts.centroids", (s, dir) =>
      graft.operators.IvfIndex.trainCentroids(
        Tables.embeddings(s, dir), "vec_id", "embedding", nlist = 16,
        sampleSize = 10000, iters = 5, seed = 42L)
        .map(_.toIndexedSeq).toIndexedSeq)

  /** The trained index PERSISTED as a lake artifact
    * ([[graft.operators.IvfStore]]: centroids + inverted lists as
    * parquet) — the star-lake pattern extended to the vector tier.
    * Built once per (session, corpus dir); serving loads the store
    * fresh from disk, so a consumer query exercises the full
    * cross-job round-trip: train → persist → load → route, with
    * routing bit-identical to the in-memory trained path.
    */
  val lakePath = new SessionScopedCache[String](
    "IvfArtifacts.lakePath", (s, dir) => {
      val path = TmpPaths.perJvm("graft_ivf_lake", dir)
      graft.operators.IvfStore.build(
        Tables.embeddings(s, dir), "vec_id", "embedding", path,
        centroids(s, dir))
      path
    })
}

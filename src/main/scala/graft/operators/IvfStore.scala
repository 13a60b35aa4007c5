package graft.operators

import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._

import graft.functions.exprs.centroidIds

/** Persisted IVF-Flat index for the uncompressed vector tier: train
  * the coarse quantizer ONCE, assign every corpus vector to its
  * inverted list ONCE, persist both, then
  * serve any number of probe batches from the stored lists without
  * re-training or re-assigning. This closes the load-once/query-many
  * lake story for the vector index that the star schema already has
  * (its persisted fact/dim layout): the index a production pipeline
  * trains per corpus version ships across jobs as parquet.
  *
  * Index layout (parquet datasets under `path`):
  *   - `centroids/`: (cid int, cvec array<double>)  — the quantizer
  *   - `lists/`:     (vec_id long, list_id int, embedding
  *                    array<float>, norm_n double) — one row per
  *                    corpus vector, its home list, and its L2 norm
  *   - `tombstones/`: (vec_id long) — RTBF delete masks pending
  *                    physical removal at the next [[compact]]
  *
  * IVF-Flat keeps the FULL vectors in the inverted lists (Jégou et
  * al., TPAMI 2011 — the uncompressed variant of the reference
  * design `/root/reference` has no analog of), so a probe touches the
  * store only: routing fans each probe to `nprobe` lists via the
  * broadcast centroid kernel, the list join is the single ids+vectors
  * equi-join on `list_id`, and the cosine rerank reads stored norms.
  *
  * Bit-exactness contract: [[build]] assigns with the SAME
  * [[graft.functions.CentroidIds]] kernel serving uses, centroids are
  * exactly-representable doubles that round-trip parquet bit-for-bit,
  * and float embeddings round-trip exactly — so
  * [[probe]](loaded index) ≡ [[IvfIndex.searchWithCentroids]](corpus)
  * row-for-row, doubles included (IvfStoreSpec asserts it; the
  * `ann_ivf_lake_topk` oracle replays the training+routing in DuckDB
  * via trainedIvfRankedCtes, identical to `ann_ivf_topk`).
  *
  * 100 TB shape: build is one map-only scan (assignment is a
  * broadcast-kernel projection) plus one parquet write; the store is
  * corpus-sized but never collects — only the O(nlist × dim) centroid
  * table crosses to the driver at probe time.
  */
object IvfStore {

  private def centroidsPath(path: String) = s"${path.stripSuffix("/")}/centroids"
  private def listsPath(path: String) = s"${path.stripSuffix("/")}/lists"
  private def tombstonesPath(path: String) = s"${path.stripSuffix("/")}/tombstones"

  /** Assign `corpus` under `cs` and persist the index. */
  def build(
      corpus: DataFrame, idCol: String, vecCol: String, path: String,
      cs: Seq[Seq[Double]]): Unit = {
    val spark = corpus.sparkSession
    import spark.implicits._
    cs.zipWithIndex.map { case (c, i) => (i, c) }.toDF("cid", "cvec")
      .coalesce(1).write.mode(SaveMode.Overwrite).parquet(centroidsPath(path))
    corpus.select(
      col(idCol).cast("long").as("vec_id"),
      element_at(centroidIds(col(vecCol), cs, 1), 1).as("list_id"),
      col(vecCol).as("embedding"),
      Similarity.l2Norm(col(vecCol)).as("norm_n"))
      .write.mode(SaveMode.Overwrite).parquet(listsPath(path))
    // full-overwrite semantics: a rebuilt index carries no tombstones
    // (stale ones from a prior index at the same path would silently
    // mask freshly built vectors)
    graft.sources.HPath.deleteIfExists(spark, tombstonesPath(path))
  }

  /** RTBF tombstone delete: mask `victims` (a frame holding `idCol`)
    * from every future [[probe]] without rewriting the corpus-sized
    * lists — the tombstone set is the only thing written (idempotent
    * key-upsert, so a re-delivered purge request is an exact no-op).
    * [[compact]] materializes the purge (drops the rows, clears the
    * tombstones).
    */
  def delete(
      spark: SparkSession, path: String, victims: DataFrame,
      idCol: String = "vec_id"): Unit =
    graft.sources.ParquetMerge.upsert(
      spark, tombstonesPath(path),
      victims.select(col(idCol).cast("long").as("vec_id")).distinct(),
      Seq("vec_id"))

  /** The stored lists minus tombstoned vec_ids. Tombstone sets are
    * deletion requests — O(purges), never corpus-sized — so the mask
    * is a broadcast anti-join: the lists scan stays map-side.
    */
  private def liveLists(spark: SparkSession, path: String): DataFrame = {
    val lists = spark.read.parquet(listsPath(path))
    val tp = tombstonesPath(path)
    if (!graft.sources.HPath.exists(spark, tp)) lists
    else lists.join(
      broadcast(spark.read.parquet(tp)), Seq("vec_id"), "left_anti")
  }

  /** Compact the store into ONE artifact at `out` — the
    * [[LshIndex.compact]] contract for the vector tier: the lists'
    * small files re-lay to ≈targetBytes files, the LIVE row
    * set is untouched, so probing the compacted store is identical
    * (IvfStoreSpec asserts it). Tombstoned rows drop for good and the
    * compacted store carries no tombstones — compaction is where a
    * [[delete]] physically materializes (the RTBF guarantee:
    * `rtbf_ann_lake_purge` oracles post-compact probe ≡
    * rebuild-without-victims).
    */
  def compact(
      spark: SparkSession, path: String, out: String,
      targetBytes: Long = 128L << 20): Unit = {
    require(
      graft.sources.HPath.qualified(spark, out) !=
        graft.sources.HPath.qualified(spark, path),
      "compact to a fresh path, then swap")
    graft.sources.Compactor.compact(
      spark.read.parquet(centroidsPath(path)), centroidsPath(out), targetBytes)
    graft.sources.Compactor.compact(
      liveLists(spark, path), listsPath(out), targetBytes)
    graft.sources.HPath.deleteIfExists(spark, tombstonesPath(out))
  }

  /** The quantizer the index at `path` was assigned with — the only
    * piece of the store that ever reaches the driver (O(nlist × dim)).
    */
  def centroids(spark: SparkSession, path: String): IndexedSeq[IndexedSeq[Double]] = {
    import spark.implicits._
    spark.read.parquet(centroidsPath(path))
      .select(col("cid"), col("cvec"))
      .as[(Int, Seq[Double])].collect()
      .sortBy(_._1).map(_._2.toIndexedSeq).toIndexedSeq
  }

  /** Top-k of `probes` against the stored lists — corpus vectors are
    * routed from the STORE, never re-assigned. Output: (query_id,
    * neighbor_id, rank, cosine_sim), the
    * [[IvfIndex.searchWithCentroids]] contract.
    */
  def probe(
      spark: SparkSession, path: String, probes: DataFrame,
      idCol: String, vecCol: String, k: Int, nprobe: Int): DataFrame = {
    val cs = centroids(spark, path)
    val indexed = liveLists(spark, path)
      .select(col("vec_id").as("neighbor_id"), col("list_id"),
        col("embedding").as("vec_n"), col("norm_n"))
    IvfIndex.searchLists(indexed, probes, idCol, vecCol, k, cs, nprobe)
  }
}

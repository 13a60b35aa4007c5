package graft

import org.apache.spark.sql.functions._

import graft.operators.{IvfIndex, IvfStore}

/** Persisted IVF-Flat index: probe-from-store must equal the in-memory
  * trained search bit-for-bit (centroids and float vectors round-trip
  * parquet exactly; assignment uses the same kernel), deletes must be
  * idempotent under re-delivery, and only the O(nlist×dim) centroid
  * table may cross to the driver.
  */
class IvfStoreSpec extends SparkSuite {
  import spark.implicits._

  private val dir = "/root/testdata/sf0.001"
  private lazy val emb = Tables.embeddings(spark, dir)
  private lazy val probes = emb.filter(col("vec_id") < 10)
  private lazy val cs = IvfIndex.trainCentroids(
    emb, "vec_id", "embedding", nlist = 16,
    sampleSize = 10000, iters = 5, seed = 42L)
    .map(_.toIndexedSeq).toIndexedSeq

  private def freshPath() =
    java.nio.file.Files.createTempDirectory("ivfstore").toString

  test("loaded centroids are bit-identical to the trained quantizer") {
    val path = freshPath()
    IvfStore.build(emb, "vec_id", "embedding", path, cs)
    assert(IvfStore.centroids(spark, path) == cs)
  }

  test("probe from the loaded store equals in-memory searchWithCentroids, doubles included") {
    val path = freshPath()
    IvfStore.build(emb, "vec_id", "embedding", path, cs)
    val got = IvfStore.probe(spark, path, probes, "vec_id", "embedding", k = 5, nprobe = 8)
      .collect().toSeq.sortBy(r => (r.getLong(0), r.getInt(2)))
    val want = IvfIndex.searchWithCentroids(
      emb, probes, "vec_id", "embedding", k = 5, cs = cs, nprobe = 8)
      .collect().toSeq.sortBy(r => (r.getLong(0), r.getInt(2)))
    assert(got == want && got.nonEmpty)
    // cosine_sim doubles compared exactly through Row equality above;
    // make the bit-exactness explicit anyway
    got.zip(want).foreach { case (g, w) =>
      assert(java.lang.Double.doubleToLongBits(g.getDouble(3)) ==
        java.lang.Double.doubleToLongBits(w.getDouble(3)))
    }
  }

  test("compact preserves the store exactly: probe rows identical") {
    val raw = freshPath()
    val out = freshPath() + "/compacted"
    IvfStore.build(emb, "vec_id", "embedding", raw, cs)
    IvfStore.compact(spark, raw, out)
    assert(IvfStore.centroids(spark, out) == cs)
    val pa = IvfStore.probe(spark, raw, probes, "vec_id", "embedding", 5, nprobe = 8)
      .collect().toSeq.sortBy(r => (r.getLong(0), r.getInt(2)))
    val pb = IvfStore.probe(spark, out, probes, "vec_id", "embedding", 5, nprobe = 8)
      .collect().toSeq.sortBy(r => (r.getLong(0), r.getInt(2)))
    assert(pa == pb && pa.nonEmpty)
  }

  test("RTBF delete masks victims, re-delivery no-ops, compact materializes") {
    val raw = freshPath()
    val out = freshPath() + "/compacted"
    IvfStore.build(emb, "vec_id", "embedding", raw, cs)
    val victims = emb.filter($"vec_id" % 10 === 3).select(col("vec_id"))
    IvfStore.delete(spark, raw, victims)
    val t0 = spark.read.parquet(s"$raw/tombstones").count()
    IvfStore.delete(spark, raw, victims) // re-delivered purge request
    assert(spark.read.parquet(s"$raw/tombstones").count() == t0 && t0 > 0,
      "re-delivered delete must be a no-op")
    // masked probe ≡ searching a corpus that never contained the victims
    val got = IvfStore.probe(spark, raw, probes, "vec_id", "embedding", 5, nprobe = 8)
      .collect().toSeq.sortBy(r => (r.getLong(0), r.getInt(2)))
    val want = IvfIndex.searchWithCentroids(
      emb.filter($"vec_id" % 10 =!= 3), probes, "vec_id", "embedding", 5, cs, nprobe = 8)
      .collect().toSeq.sortBy(r => (r.getLong(0), r.getInt(2)))
    assert(got == want && got.nonEmpty)
    assert(got.forall(_.getLong(1) % 10 != 3), "victim leaked into probe results")
    // compact: victims physically gone, no tombstones, probe identical
    IvfStore.compact(spark, raw, out)
    assert(spark.read.parquet(s"$out/lists").filter($"vec_id" % 10 === 3).count() == 0)
    assert(!new java.io.File(s"$out/tombstones").exists())
    val pc = IvfStore.probe(spark, out, probes, "vec_id", "embedding", 5, nprobe = 8)
      .collect().toSeq.sortBy(r => (r.getLong(0), r.getInt(2)))
    assert(pc == got)
  }

  test("compact into the same directory is refused even via an aliased path") {
    val raw = freshPath()
    IvfStore.build(emb.filter($"vec_id" < 50), "vec_id", "embedding", raw, cs)
    intercept[IllegalArgumentException] {
      IvfStore.compact(spark, raw, raw.stripSuffix("/") + "/") // trailing-slash alias
    }
  }

  test("probe plan routes via the stored lists — no re-assignment of the corpus") {
    val path = freshPath()
    IvfStore.build(emb, "vec_id", "embedding", path, cs)
    val plan = IvfStore.probe(spark, path, probes, "vec_id", "embedding", 5, nprobe = 8)
      .queryExecution.executedPlan.toString
    // the corpus side is the stored lists scan; embeddings.parquet may
    // appear once (the probe batch itself), never as the corpus side
    assert(plan.contains("/lists"), "probe must scan the stored lists")
    assert(plan.split("embeddings\\.parquet").length - 1 <= 1,
      "corpus vectors must not be re-assigned or rescanned")
  }
}

package graft

import java.nio.file.Files

import graft.queries.SessionScopedCache

/** The per-(session, corpus) artifact memo must serve cached values
  * only while the dir's file tree is unchanged: round-4 ADVICE flagged
  * that entries never evicted within a live session, going stale if
  * the dir's data changed. Every declared artifact registers itself,
  * and `warmAll` (Bench's untimed warm-up) builds each one.
  *
  * The warm-up tests come first: the toy artifacts declared below stay
  * registered for the rest of the JVM, and a later `warmAll` would
  * build them too.
  */
class SessionScopedCacheSpec extends SparkSuite {
  // the sf0.001 fixture the other specs read, beside the mains' default
  private val dir = java.nio.file.Paths.get(Sessions.sfDir).resolveSibling("sf0.001").toString

  private val declared = Seq(
    "IrLakeQueries.supplierRanks", "CurationQueries.saArtifact",
    "IvfArtifacts.centroids", "IvfArtifacts.lakePath",
    "PipelineQueries.ccLabels", "PipelineQueries.perturbedPairStats",
    "PipelineQueries.spanCoverage", "PipelineQueries.basketPairsAll",
    "PipelineQueries.orderPartItems", "PipelineQueries.bigramBitsScored",
    "GraphLearnQueries.tradeGraph", "GraphLearnQueries.nationFlow",
    "GraphLearnQueries.perceptronModel", "GraphLearnQueries.exactEpsPairs",
    "GraphLearnQueries.routedEpsPairs", "GraphLearnQueries.lpaPartition",
    "GraphLearnQueries.knnGraph", "MefStarQueries.star",
    "MefStarQueries.starLake", "SketchStatsQueries.preparedTradeEdges")

  test("Bench's warm-up builds exactly the 20 declared artifacts, each once") {
    // what Bench does: evaluating the query map declares the query
    // modules' artifacts; IvfArtifacts is reached only from builders
    SparkEntry.queries
    val warmed = SessionScopedCache.warmAll(spark, dir)
    assert(warmed.map(_._1).sorted == declared.sorted)
    assert(warmed.forall(_._2 >= 0.0), warmed)
  }

  test("a declared artifact builds once across two warmAll calls") {
    var builds = 0
    val toy = new SessionScopedCache[Long]("SessionScopedCacheSpec.toy", (s, _) => {
      builds += 1
      s.range(3).count()
    })
    val first = SessionScopedCache.warmAll(spark, dir)
    val second = SessionScopedCache.warmAll(spark, dir)
    assert(builds == 1)
    assert(first.count(_._1 == toy.name) == 1 && second.count(_._1 == toy.name) == 1)
    assert(toy(spark, dir) == 3 && builds == 1)
  }

  test("changed dir contents re-build; unchanged dir serves the cached value") {
    import spark.implicits._
    val dir = Files.createTempDirectory("graft_cache_fp").toString
    Seq(1, 2, 3).toDF("x").write.mode("overwrite").parquet(s"$dir/t.parquet")

    var builds = 0
    val cache = new SessionScopedCache[Long]("SessionScopedCacheSpec.fingerprint", (s, d) => {
      builds += 1
      s.read.parquet(s"$d/t.parquet").count()
    })
    def load(): Long = cache(spark, dir)

    assert(load() == 3 && builds == 1)
    assert(load() == 3 && builds == 1, "unchanged dir must hit the cache")

    // rewrite with different data (parquet part files get fresh
    // names/sizes/mtimes, so the tree fingerprint moves)
    Seq(1, 2, 3, 4, 5).toDF("x").write.mode("overwrite").parquet(s"$dir/t.parquet")
    assert(load() == 5, "changed dir must re-read fresh results")
    assert(builds == 2)
    assert(load() == 5 && builds == 2, "new fingerprint is cached in turn")
  }
}

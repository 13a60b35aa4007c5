package graft

import org.apache.spark.sql.DataFrame

import graft.operators.{IvfIndex, IvfStore, KnnGraph, Similarity}

/** The exact search paths share one scorer ([[Similarity.cosineFromNorms]])
  * and one per-query tail ([[Similarity.topKPerQuery]]). On a hand-made
  * corpus with an all-zero vector and two identical vectors, every
  * exact path must give the zero vector cosine 0.0, rank the identical
  * pair's equal-cosine entries by ascending id, and equal a
  * plain-Scala reference row for row, doubles bit-exact. The IVF paths
  * probe every list (nprobe = nlist), so they are exact too.
  */
class CosineRerankSpec extends SparkSuite {
  import spark.implicits._

  private val vectors: Seq[(Long, Seq[Float])] = Seq(
    1L -> Seq(0f, 0f, 0f, 0f),        // zero norm
    2L -> Seq(1f, 2f, 3f, 4f),
    3L -> Seq(1f, 2f, 3f, 4f),        // identical to 2: ties on cosine
    4L -> Seq(-1f, 0.5f, 2f, 0f),
    5L -> Seq(0.25f, -3f, 1f, 1f),
    6L -> Seq(4f, 1f, -2f, 0.5f),
    7L -> Seq(0.5f, 0.5f, 0.5f, -1f))
  private val k = vectors.size - 1 // every other node: the whole ranking
  private lazy val corpus = vectors.toDF("id", "vec")
  private lazy val cs = IvfIndex.seededCentroids(dim = 4, nlist = 3, seed = 7L)

  /** (query, neighbor, rank, cosine) for every query in `queries`: the
    * VecDot left fold over float→double products, sqrt norms, 0 when
    * either norm is 0, ties to the lower neighbor id.
    */
  private def reference(queries: Seq[Long]): Seq[(Long, Long, Int, Double)] = {
    def dot(a: Seq[Float], b: Seq[Float]) =
      a.zip(b).foldLeft(0.0) { case (s, (x, y)) => s + x.toDouble * y.toDouble }
    val vec = vectors.toMap
    def norm(id: Long) = math.sqrt(dot(vec(id), vec(id)))
    queries.flatMap { q =>
      vectors.map(_._1).filter(_ != q).map { n =>
        val denom = norm(n) * norm(q)
        n -> (if (denom > 0) dot(vec(n), vec(q)) / denom else 0.0)
      }.sortBy { case (n, c) => (-c, n) }.take(k).zipWithIndex.map {
        case ((n, c), i) => (q, n, i + 1, c)
      }
    }.sorted
  }

  private def rows(df: DataFrame): Seq[(Long, Long, Int, Double)] =
    df.select("query_id", "neighbor_id", "rank", "cosine_sim")
      .as[(Long, Long, Int, Double)].collect().toSeq.sorted

  private def check(path: String, got: Seq[(Long, Long, Int, Double)], queries: Seq[Long]): Unit = {
    val want = reference(queries)
    assert(got.map(r => r.copy(_4 = java.lang.Double.doubleToLongBits(r._4))) ==
      want.map(r => r.copy(_4 = java.lang.Double.doubleToLongBits(r._4))),
      s"$path\n got ${got.mkString(" ")}\nwant ${want.mkString(" ")}")
    val zero = got.filter(r => r._1 == 1L || r._2 == 1L)
    assert(zero.nonEmpty && zero.forall(_._4 == 0.0), s"$path: zero vector scored $zero")
    // the identical pair ties for every other query; 2 ranks first
    got.filter(r => r._1 != 2L && r._1 != 3L).groupBy(_._1).foreach { case (q, rs) =>
      val tie = rs.filter(r => r._2 == 2L || r._2 == 3L).sortBy(_._3)
      assert(tie.map(_._2) == Seq(2L, 3L) && tie(0)._4 == tie(1)._4 &&
        tie(1)._3 == tie(0)._3 + 1, s"$path: query $q tie $tie")
    }
  }

  private val probeIds = Seq(1L, 2L, 4L, 6L)
  private lazy val probes = corpus.filter($"id".isin(probeIds: _*))

  test("bruteForceTopK and bruteForceTopKBlocked") {
    check("bruteForceTopK",
      rows(Similarity.bruteForceTopK(corpus, probes, "id", "vec", k)), probeIds)
    check("bruteForceTopKBlocked",
      rows(Similarity.bruteForceTopKBlocked(corpus, probes, "id", "vec", k)), probeIds)
  }

  test("IvfIndex.searchWithCentroids and IvfStore.probe with every list probed") {
    check("searchWithCentroids", rows(IvfIndex.searchWithCentroids(
      corpus, probes, "id", "vec", k, cs, nprobe = cs.length)), probeIds)
    val path = java.nio.file.Files.createTempDirectory("cosine_rerank").toString
    IvfStore.build(corpus, "id", "vec", path, cs)
    check("IvfStore.probe", rows(IvfStore.probe(
      spark, path, probes, "id", "vec", k, nprobe = cs.length)), probeIds)
  }

  test("KnnGraph.buildWithCentroids with every list probed") {
    check("buildWithCentroids", rows(KnnGraph.buildWithCentroids(
      corpus, "id", "vec", k, cs, nprobe = cs.length)), vectors.map(_._1))
  }
}

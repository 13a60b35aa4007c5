package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import scala.collection.immutable.ListMap

/** Measured time-vs-scale curves for the iterative heavies — r12
  * verdict item 1: every 100 TB claim in SCALE.md was argued from
  * plan shapes; this main MEASURES the slopes. It synthesizes 1×/2×/4×
  * corpora from the fixture tables (disjoint id-shifted copies — the
  * dedup_lsh_eval perturbed-union machinery), localCheckpoints them so
  * synthesis is excluded from timing, and times each operator `runs`
  * times per scale with the Bench inter-run GC hygiene.
  *
  * Scaling conventions (documented in SCALE.md §Measured scale curves):
  *  - graph ops: k disjoint copies of the supplier↔customer edge set,
  *    node ids offset per copy — |E| scales k×, diameter constant.
  *  - semdedup: k copies of the embeddings corpus (ids offset, vectors
  *    deterministically perturbed per copy) with nlist scaled k× —
  *    constant list occupancy, the production IVF configuration (fixed
  *    nlist at growing corpus is super-linear BY DESIGN; quantizer
  *    training is an untimed artifact, as in the sweep).
  *  - suffix array: 1×/2×/4× document slices (corpus length L is the
  *    scale axis).
  *  - span excise: k near-identical corpus copies — the worst-case
  *    duplication load (every interior span goes common at k ≥ 2).
  *  - star build: k copies of the raw feed with copy-prefixed
  *    executing-unit keys — fact input, dim_ejecutora, AND grain all
  *    scale k×.
  *
  * Usage: SPARK_GRAFT_SF_DIR=<fixture> sbt "runMain graft.ScaleBench [runs]"
  * (the fixture defaults to sf0.1, like every measuring main)
  * Prints one JSON line per (op, scale, run) and a fitted-slope
  * summary (per-doubling exponent log2(t4/t1)/2 over median times;
  * ~1.0 = linear; anything clearly super-linear is a found bug).
  */
object ScaleBench {

  /** k disjoint node-id-shifted copies of the supplier↔customer
    * edge frame (the pagerank_supplier_customer build).
    */
  private def scaledEdges(s: SparkSession, dir: String, k: Int): DataFrame = {
    val e0 = Tables.lineitem(s, dir)
      .join(Tables.orders(s, dir), col("l_orderkey") === col("o_orderkey"))
      .select((col("l_suppkey") * 2).as("u"), (col("o_custkey") * 2 + 1).as("v"))
      .distinct()
    val sym = e0.unionByName(e0.select(col("v").as("u"), col("u").as("v"))).distinct()
    val off = 10000000L
    (0 until k).map { c =>
      sym.select((col("u") + c * off).as("u"), (col("v") + c * off).as("v"))
    }.reduce(_ unionByName _).localCheckpoint()
  }

  /** k copies of the embeddings corpus: ids offset, and copy c's
    * vectors CYCLICALLY ROTATED by 7c dimensions. Rotation is
    * norm-preserving and keeps every within-copy pairwise similarity
    * identical to the original cloud, while cross-copy similarities
    * are quasi-random — so the scaled corpus is ≈ k disjoint copies of
    * the same kNN structure (a scalar multiple would be PARALLEL to
    * its original — cosine exactly 1 — and the mutual-kNN/CC phase
    * would then measure a k-dependent cluster topology, not k× the
    * same workload; observed as a spurious negative slope in the
    * first r13 run).
    */
  private def scaledEmbeddings(s: SparkSession, dir: String, k: Int): DataFrame = {
    val emb = Tables.embeddings(s, dir).select(col("vec_id"), col("embedding"))
    // The rotation stride must stay co-prime-ish with the ACTUAL
    // vector length (advice r13): derive the modulus from the fixture
    // dimension instead of hardcoding 64, so a dimension change keeps
    // the per-copy shifts distinct and the cross-copy decorrelation.
    val dim = emb.select(size(col("embedding")).as("d")).head().getInt(0)
    val off = 10000000L
    (0 until k).map { c =>
      val shift = (7 * c) % dim
      emb.select(
        (col("vec_id") + c * off).as("vec_id"),
        expr(s"transform(sequence(0, size(embedding) - 1), " +
          s"i -> element_at(embedding, ((i + $shift) % size(embedding)) + 1))")
          .as("embedding"))
    }.reduce(_ unionByName _).localCheckpoint()
  }

  /** k copies of the perturbed document corpus (ids offset per copy). */
  private def scaledDocs(s: SparkSession, dir: String, k: Int): DataFrame = {
    val d = Tables.documents(s, dir).select(col("doc_id"), col("text"))
    val base = d.unionAll(d.select(
      (col("doc_id") + 100000).as("doc_id"),
      regexp_replace(col("text"), "^[^\\t\\n\\f\\r ]+[\\t\\n\\f\\r ]*", "").as("text")))
    val off = 1000000L
    (0 until k).map { c =>
      base.select((col("doc_id") + c * off).as("doc_id"), col("text"))
    }.reduce(_ unionByName _).localCheckpoint()
  }

  /** k copies of the perturbed corpus for the LSH DEDUP chains, made
    * textually DISJOINT across copies by a per-copy alphabet rotation
    * (translate — an injective char map): within-copy near-dup
    * structure (each doc + its first-token-dropped twin) is preserved
    * exactly, while cross-copy shingle/fingerprint overlap is
    * coincidence-level, so candidate-pair mass scales k× — NOT k²
    * (identical copies would make every cross-copy doc pair an exact
    * duplicate: the scalar-multiple-embedding mistake, text edition).
    * Copy-local shingle identity also keeps the hot-fingerprint df
    * distribution identical per copy, so the broadcast blacklist caps
    * fire the same way at every scale.
    */
  private def scaledDedupDocs(s: SparkSession, dir: String, k: Int): DataFrame = {
    require(k <= 8, "rotation distinctness needs k well under the alphabet size")
    val d = Tables.documents(s, dir).select(col("doc_id"), col("text"))
    val base = d.unionAll(d.select(
      (col("doc_id") + 100000).as("doc_id"),
      regexp_replace(col("text"), "^[^\\t\\n\\f\\r ]+[\\t\\n\\f\\r ]*", "").as("text")))
    val alpha = "abcdefghijklmnopqrstuvwxyz"
    val off = 1000000L
    (0 until k).map { c =>
      val rot = alpha.drop(3 * c) + alpha.take(3 * c)
      base.select((col("doc_id") + c * off).as("doc_id"),
        translate(col("text"), alpha + alpha.toUpperCase,
          rot + rot.toUpperCase).as("text"))
    }.reduce(_ unionByName _).localCheckpoint()
  }

  /** The SA position/char frame over an L-scaled document slice. */
  private def saChars(s: SparkSession, dir: String, nDocs: Int): DataFrame =
    graft.operators.DenseId.withDenseId(
      Tables.documents(s, dir).filter(col("doc_id") < nDocs)
        .select(col("doc_id"),
          concat(coalesce(col("text"), lit("")), lit("\u0001")).as("t"))
        .select(col("doc_id"), posexplode(expr(
          "transform(sequence(1, length(t)), i -> ascii(substring(t, i, 1)))"))
          .as(Seq("pos", "code"))),
      Seq(col("doc_id"), col("pos")), "gpos")
      .select(col("gpos"), col("code"))
      .localCheckpoint()

  /** k copies of the raw MEF feed with copy-prefixed executing-unit
    * keys: dims and grain scale with input.
    */
  private def scaledNormalized(s: SparkSession, dir: String, k: Int): DataFrame = {
    val raw = graft.queries.MefStarQueries.syntheticRaw(s, dir)
    val scaled = (0 until k).map { c =>
      raw.withColumn("SEC_EJEC", concat_ws("", lit(c.toString), col("SEC_EJEC")))
    }.reduce(_ unionByName _)
    graft.mef.Normalize(graft.mef.Transform(scaled)).localCheckpoint()
  }

  def main(args: Array[String]): Unit = {
    val sfDir = Sessions.sfDir
    val runs = args.headOption.map(_.toInt).getOrElse(3)
    val spark = Sessions.fromEnv()
    val scales = Seq(1, 2, 4)
    val results = scala.collection.mutable.ArrayBuffer.empty[(String, Int, Int, Double, Long)]
    def median(xs: Seq[Double]) = xs.sorted.apply(xs.size / 2)
    // fixed decimals, printed as `f"%.Nf"` would print them
    def round(x: Double, places: Int) = BigDecimal(x).setScale(places, BigDecimal.RoundingMode.HALF_UP)

    def record(op: String, scale: Int, sizeRows: Long)(body: => Long): Unit = {
      (1 to runs).foreach { r =>
        val (sec, n) = Sessions.timed(body)
        results += ((op, scale, r, sec, n))
        println(Sessions.json(ListMap("op" -> op, "scale" -> scale, "run" -> r,
          "sec" -> round(sec, 3), "rows" -> n, "input_rows" -> sizeRows)))
      }
    }

    scales.foreach { k =>
      // graph heavies share the scaled edge frame (built+checkpointed untimed)
      val edges = scaledEdges(spark, sfDir, k)
      val nE = edges.count()
      record("pagerank", k, nE) {
        graft.operators.PageRank.run(edges, rounds = 5).count()
      }
      record("kcore", k, nE) {
        graft.operators.GraphOps.kcoreTruncated(edges, k = 10, rounds = 3).count()
      }
      // r13 iterative additions (r13 verdict item 2): disjoint copies
      // converge in the same 2 rounds (hub suppliers decide round 1 in
      // every copy), so the fixture budgets hold at every scale.
      record("luby_mis", k, nE) {
        graft.operators.GraphOps.lubyMis(edges, maxRounds = 6).count()
      }
      record("greedy_matching", k, nE) {
        graft.operators.GraphOps.greedyMatching(edges, maxRounds = 5).count()
      }
      record("two_sweep_bfs", k, nE) {
        val off = 10000000L
        val seeds1 = edges
          .groupBy((col("u") / off).cast("long").as("cp"))
          .agg(min(col("u")).as("node")).select(col("node"))
        val h1 = graft.operators.GraphOps.bfsHops(edges, seeds1, rounds = 8)
        // per-copy farthest node (ties → min id) seeds the second sweep
        val h1c = h1.withColumn("cp", (col("node") / off).cast("long"))
        val far = h1c.groupBy(col("cp")).agg(max(col("hop")).as("mh"))
          .join(h1c, Seq("cp"))
          .filter(col("hop") === col("mh"))
          .groupBy(col("cp")).agg(min(col("node")).as("node"))
          .select(col("node"))
        graft.operators.GraphOps.bfsHops(edges, far, rounds = 8).count()
      }

      val emb = scaledEmbeddings(spark, sfDir, k)
      val nV = emb.count()
      // quantizer = untimed artifact (the sweep convention); nlist
      // scales with the corpus so list occupancy stays constant
      val cs = graft.operators.IvfIndex.trainCentroids(
        emb, "vec_id", "embedding", nlist = 16 * k,
        sampleSize = 10000, iters = 5, seed = 42L)
        .map(_.toIndexedSeq).toIndexedSeq
      record("semdedup", k, nV) {
        val knn = graft.operators.KnnGraph.buildWithCentroids(
          emb, "vec_id", "embedding", k = 5, cs, nprobe = 8)
        val mutual = graft.operators.KnnGraph.mutualEdges(knn)
        val cc = graft.operators.Dedup.connectedComponents(mutual, "a", "b")
        emb.select(col("vec_id"))
          .join(cc.select(col("id").as("vec_id"), col("component")),
            Seq("vec_id"), "left")
          .select(coalesce(col("component"), col("vec_id")).as("cluster"))
          .groupBy(col("cluster")).agg(count(lit(1)).as("n"))
          .count()
      }

      val chars = saChars(spark, sfDir, 40 * k)
      val nC = chars.count()
      record("suffix_array", k, nC) {
        graft.operators.SuffixArray.saFromRounds(
          graft.operators.SuffixArray.rounds(chars)).count()
      }

      val docs = scaledDocs(spark, sfDir, k)
      val nD = docs.count()
      record("span_excise", k, nD) {
        graft.operators.SpanDedup.exciseCommonSpans(
          docs, "doc_id", "text", n = 8, maxDocs = 1L).count()
      }

      // LSH dedup chains (r13 verdict item 2) over the alphabet-rotated
      // corpus: candidate mass scales k× by construction.
      val ddocs = scaledDedupDocs(spark, sfDir, k)
      val nDD = ddocs.count()
      record("minhash_lsh", k, nDD) {
        graft.operators.MinHashLsh.nearDupPairs(
          ddocs, "doc_id", "text", threshold = 0.5).count()
      }
      record("winnow_pairs", k, nDD) {
        graft.operators.Dedup.winnowPairs(ddocs, "doc_id", "text",
          k = 16, w = 8, minShared = 5, maxFingerprintDf = 20).count()
      }

      val normalized = scaledNormalized(spark, sfDir, k)
      val nR = normalized.count()
      record("star_build", k, nR) {
        val st = graft.mef.Star.build(spark, normalized)
        val n = st.fact.count()
        st.release()
        n
      }
    }

    // fitted per-doubling exponents over per-scale MEDIANS
    val summary = results.groupBy(_._1).toSeq.sortBy(_._1).map { case (op, rows) =>
      val med = scales.map(k => k -> median(rows.filter(_._2 == k).map(_._4).toSeq)).toMap
      val slope = math.log(med(4) / med(1)) / math.log(2.0) / 2.0
      op -> ListMap("t1" -> round(med(1), 2), "t2" -> round(med(2), 2),
        "t4" -> round(med(4), 2), "per_doubling_exp" -> round(slope, 2))
    }
    val line = Sessions.json(ListMap("metric" -> "scale_curves", "sf" -> sfDir,
      "runs" -> runs, "ops" -> ListMap(summary: _*)))
    println(line)
    java.nio.file.Files.write(
      java.nio.file.Paths.get(s"scale_curves_${new java.io.File(sfDir).getName}.json"),
      (results.map { case (op, k, r, sec, n) =>
        Sessions.json(ListMap("op" -> op, "scale" -> k, "run" -> r, "sec" -> round(sec, 3), "rows" -> n))
      }.mkString("", "\n", "\n") + line + "\n").getBytes("UTF-8"))
    spark.stop()
  }
}

package graft

import scala.collection.immutable.ListMap

/** Isolated query timing: `runMain graft.IsoBench [query ...]`.
  *
  * The full Bench sweep shares one JVM across every query, so late
  * entries inherit earlier entries' garbage and JIT state — CLAUDE.md
  * records 3-18 s swings on identical code. When a sweep number looks
  * like a regression, THIS is the arbiter: each query is warmed once
  * (the warm run also builds every shared artifact the query reads),
  * then timed three GC-separated times against the noop sink.
  *
  * With no arguments it times the [[Representatives]], which makes it
  * the strong-scaling harness too: sweep `SPARK_GRAFT_CPUS=4/8/16/32`
  * on the SAME fixture and the same day (the iso protocol) and fit
  * per-class speedups. A query flat from 8→32 cores at sf0.1 is
  * fixture-floor-bound (the per-job scheduling floor dominates); a
  * query that DEGRADES with more cores has a serialization point the
  * local box was hiding (a 1-partition stage, a driver loop) — a found
  * bug.
  *
  * Prints `[iso] <query> run<i> <sec> s codegen_classes=<n>` per timed
  * run, then one line
  *   {"metric":"core_bench","cpus":N,"sf":dir,"runs":3,
  *    "queries":{name:medianSec,…},"codegen_classes":{name:n,…}}
  * where `codegen_classes` counts the classes compiled during the timed
  * runs ([[Sessions.codegenClasses]]): close to 0 once the warm run has
  * filled the codegen cache, so a thrashing cache shows at once.
  */
object IsoBench {

  /** One representative per query class (names = SparkEntry keys):
    * scan+agg star view, TPC-H join pipeline, rollup, window
    * sessionize, ETL e2e, iterative graph ×2, LSH dedup ×2, kNN+CC,
    * IVF probe, suffix array, tokenizer training, LM vocab, sketch,
    * mixture sampling.
    */
  val Representatives: Seq[String] = Seq(
    "ytd_by_region",
    "tpch_q3_shipping_priority",
    "monthly_star_rollup",
    "events_sessionize",
    // the e2e ETL representative is the INCREMENTAL pipeline: it
    // builds its own star per call (Star.build + append), so the
    // measurement stays a real build at every core count — the
    // starCache-backed mef_star_pipeline_* queries would measure only
    // the post-build view query after their first run (r14)
    "mef_star_incremental_ytd",
    "pagerank_supplier_customer",
    "kcore_decomposition",
    "dedup_minhash_lsh",
    "dedup_winnow_pairs",
    "semdedup_knn_clusters",
    "ann_ivf_topk",
    "suffix_array_build",
    "bpe_merges",
    "unigram_lm_vocab",
    "hll_distinct_orders",
    "mixture_temperature_sample")

  def main(args: Array[String]): Unit = {
    val names = if (args.isEmpty) Representatives else args.toSeq
    names.foreach { n =>
      require(SparkEntry.queries.contains(n),
        s"unknown query $n; known: ${SparkEntry.queries.keys.toSeq.sorted.mkString(", ")}")
    }
    val sfDir = Sessions.sfDir
    val spark = Sessions.fromEnv()
    val timings = names.map { name =>
      def run(): Unit = SparkEntry.queries(name)(spark, sfDir)
        .write.format("noop").mode("overwrite").save()
      Sessions.timed(run()) // warm
      val runs = (1 to 3).map { i =>
        val c0 = Sessions.codegenClasses
        val (sec, _) = Sessions.timed(run())
        val classes = Sessions.codegenClasses - c0
        println(f"[iso] $name run$i $sec%.2f s codegen_classes=$classes")
        (sec, classes)
      }
      (name, runs.map(_._1).sorted.apply(1), runs.map(_._2).sum)
    }
    println(Sessions.json(ListMap("metric" -> "core_bench", "cpus" -> Sessions.cpus,
      "sf" -> sfDir, "runs" -> 3,
      "queries" -> ListMap(timings.map(t => t._1 -> t._2): _*),
      "codegen_classes" -> ListMap(timings.map(t => t._1 -> t._3): _*))))
    spark.stop()
  }
}

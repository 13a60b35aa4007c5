package graft

import scala.collection.immutable.ListMap

/** Benchmark main: times every SparkEntry query on
  * SPARK_GRAFT_SF_DIR, prints two JSON lines (full, then totals).
  *
  * A small untimed warm-up (session init, parquet reader, codegen)
  * runs first so the first measured query isn't charged JVM startup;
  * queries then run in name order for run-to-run comparability.
  *
  * Optional arg: a substring filter on query names (local profiling —
  * `runMain graft.Bench mef_star` times only the star-pipeline
  * queries).
  *
  * Both lines carry `codegen_classes`: the classes compiled during the
  * timed queries ([[Sessions.codegenClasses]]). The full line also
  * carries `warm_s`, the untimed artifact warm-up's seconds, and
  * `artifact_s`, each artifact's own build seconds
  * ([[queries.SessionScopedCache.warmAll]]).
  *
  * Both lines also carry `git_sha`, the checkout's `git rev-parse HEAD`
  * (`null` when git or the repository is unavailable), so a recorded
  * line names the code it measured.
  *
  * A query that throws is reported in an "errors" list (and its name
  * keyed to -1 in "queries") instead of silently contributing elapsed
  * time to the total.
  */
object Bench {

  /** `git rev-parse HEAD` of the working directory, if git answers. */
  private def gitSha: Option[String] =
    try Some(scala.sys.process.Process(Seq("git", "rev-parse", "HEAD"))
      .!!(scala.sys.process.ProcessLogger(_ => ())).trim)
    catch { case scala.util.control.NonFatal(_) => None }

  def main(args: Array[String]): Unit = {
    val sfDir = Sessions.sfDir
    val nameFilter = args.headOption
    val spark = Sessions.fromEnv()

    // warm-up: JVM + codegen + parquet footer cache (untimed); the
    // bloom build warms the BloomFilterAggregate classload/codegen
    // path (~1.8s one-time, measured — otherwise charged to whichever
    // query first touches it)
    spark.range(1000000).selectExpr("sum(id)").collect()
    Tables.lineitem(spark, sfDir).limit(1).collect()
    spark.range(100).toDF("h").stat.bloomFilter("h", 1000L, 0.01)
    // PrefixSum machinery (TakeOrderedAndProject, broadcast join,
    // WindowExec, SearchSortedCount classload): the alphabetically
    // FIRST query is a PrefixSum consumer and otherwise absorbs this
    // one-time codegen into its recorded number
    locally {
      import org.apache.spark.sql.functions.{col, lit}
      operators.PrefixSum.withExclusivePrefix(
        spark.range(10000).select(col("id"), lit(1L).as("v")),
        Seq(col("id")), "v", "p").count()
    }
    val selected = SparkEntry.queries.toSeq.sortBy(_._1)
      .filter { case (name, _) => nameFilter.forall(name.contains) }
    // Shared session ARTIFACTS build untimed (r12 verdict item 4): the
    // IVF quantizer + persisted lake, the LPA partition, the SA
    // doubling rounds, the star and the rest are load-once artifacts
    // that ~10 queries consume — without this the alphabetically-first
    // consumer of each absorbs a corpus-scale build into its recorded
    // number (r12: semdedup_knn_clusters swept 13.4 s against its
    // 5.7–8.3 s iso band — accounting, not query cost). Evaluating
    // SparkEntry.queries above declared every query module's
    // artifacts. Skipped for filtered profiling runs, where cold = the
    // iso convention.
    val (warmS, artifactS) =
      if (nameFilter.isEmpty) Sessions.timed(queries.SessionScopedCache.warmAll(spark, sfDir))
      else (0.0, Nil)

    val errors = scala.collection.mutable.ArrayBuffer.empty[String]
    val classes0 = Sessions.codegenClasses
    val results = selected.map { case (name, fn) =>
      val (elapsed, ok) = Sessions.timed {
        try { fn(spark, sfDir).count(); true }
        catch { case e: Throwable =>
          errors += name
          System.err.println(s"[bench] $name FAILED: ${e.getMessage}")
          false
        }
      }
      name -> (if (ok) elapsed else -1.0)
    }
    val codegenClasses = Sessions.codegenClasses - classes0
    val total = results.collect { case (_, v) if v >= 0 => v }.sum
    val sha = gitSha.orNull
    def line(fields: (String, Any)*) = Sessions.json(ListMap(
      Seq("metric" -> "total", "value" -> total, "unit" -> "sec") ++ fields ++
        Seq("errors" -> errors, "sf" -> sfDir, "cpus" -> Sessions.cpus,
          "git_sha" -> sha, "codegen_classes" -> codegenClasses): _*))
    val full = line("queries" -> ListMap(results: _*), "warm_s" -> warmS,
      "artifact_s" -> ListMap(artifactS: _*))
    println(full)
    // Also persist the full metric line: the driver's BENCH_r*.json
    // keeps only the log tail, which truncates ~100 of the per-query
    // timings (round-5 VERDICT) — the file survives intact.
    java.nio.file.Files.write(
      java.nio.file.Paths.get("bench_latest.json"),
      (full + "\n").getBytes("UTF-8"))
    // Short totals line LAST: the driver's BENCH_r*.json keeps only a
    // ~2000-char output tail, which truncates the START of the full
    // per-query line (where "value" lives) — this summary keeps every
    // round's total, count, and error list recoverable from the tail
    // alone (r6 ADVICE item 8).
    println(line("n_queries" -> results.size, "n_errors" -> errors.size))
    spark.stop()
  }
}

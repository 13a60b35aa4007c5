package graft

import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.sql.SparkSession

/** Shared local-mode session factory: one place for the configs every
  * entrypoint (Verify, Bench, tests) must agree on.
  *
  * - shuffle.partitions = cores (not the 200 default — local mode).
  * - UTC session time zone (oracle parity).
  * - AQE on: runtime coalescing/skew handling — the same settings that
  *   would carry to a real cluster.
  * - `nanosAsLong`: the driver testdata's `events.ts` is
  *   TIMESTAMP(NANOS) which Spark 4 otherwise refuses to read;
  *   [[Tables.events]] converts the long back to a microsecond
  *   timestamp.
  * - codegen cache of [[CodegenCacheEntries]] classes, not Spark's 100.
  *   Measured on a 4-core host (perfbench inputs): one monthly op
  *   (ingest, `Star.append`, A4 refresh) compiled 274-322 classes and a
  *   cold full load 308, 124 of them in `Validate`, so the default
  *   cache evicted every class before the next op asked for it again.
  *   At 2000, a month replayed on an unchanged star compiles 6-12
  *   classes instead of 318; a month on a grown star still compiles
  *   125-137, because each append adds a union child to the dims and so
  *   makes new plans. 2000 holds a cold load plus a year of such months;
  *   after four appends metaspace grew 1.6 MB. [[codegenClasses]] shows
  *   a thrashing cache.
  *
  * The measuring mains (Bench, IsoBench, PlanDump, ScaleBench, Verify)
  * also take their environment, timer and JSON output from here.
  */
object Sessions {

  /** `spark.sql.codegen.cache.maxEntries`: a static conf, read once per
    * JVM when the first query compiles, so it must be set here, before
    * any session exists. Sized above.
    */
  val CodegenCacheEntries = 2000

  def local(cpus: String): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.extensions", "graft.GraftExtensions")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.codegen.cache.maxEntries", CodegenCacheEntries.toString)
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }

  /** `SPARK_GRAFT_CPUS`, defaulting to the JVM's available processors. */
  def cpus: Int = sys.env.get("SPARK_GRAFT_CPUS").map(_.toInt)
    .getOrElse(Runtime.getRuntime.availableProcessors)

  /** `SPARK_GRAFT_SF_DIR`: the fixture the measuring mains read. */
  def sfDir: String = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")

  /** The measuring mains' session: [[local]] at [[cpus]] threads. */
  def fromEnv(): SparkSession = local(cpus.toString)

  /** Classes Janino has compiled in this JVM so far; the difference
    * across an interval is the classes compiled in it (a cache hit
    * compiles nothing). Warm timed runs should show close to 0.
    */
  def codegenClasses: Long = CodegenMetrics.METRIC_COMPILATION_TIME.getCount

  /** Wall seconds of `body`, then a `System.gc()` OUTSIDE the timed
    * interval. Local mode runs driver and executors in one JVM, and
    * Spark's ContextCleaner reclaims finished queries' broadcast and
    * shuffle state only when a GC runs: without this, later
    * measurements pay for earlier ones' garbage (dedup_minhash_lsh:
    * 38 s in a full sweep vs 6 s isolated).
    */
  def timed[T](body: => T): (Double, T) = {
    val t0 = System.nanoTime()
    val r = body
    val sec = (System.nanoTime() - t0) / 1e9
    System.gc()
    (sec, r)
  }

  /** A JSON string literal: quote, backslash and EVERY control char
    * below 0x20 escaped — a tab or CR in query-authored SQL would
    * otherwise make the reader's `json.load` of oracle_sql.json fail.
    */
  def jsonString(s: String): String = "\"" + s.flatMap {
    case '"'  => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case '\r' => "\\r"
    case '\t' => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""

  /** JSON text of `v`: a `Map` is an object in its iteration order
    * (`ListMap` keeps field order), any other collection an array, a
    * string a [[jsonString]], anything else its `toString` (numbers).
    * `colon` separates keys from values: Verify's oracle_sql.json keeps
    * its historical `": "`, the bench lines are compact.
    */
  def json(v: Any, colon: String = ":"): String = v match {
    case s: String => jsonString(s)
    case m: collection.Map[_, _] =>
      m.map { case (k, x) => jsonString(k.toString) + colon + json(x, colon) }
        .mkString("{", ",", "}")
    case xs: Iterable[_] => xs.map(json(_, colon)).mkString("[", ",", "]")
    case x => x.toString
  }
}

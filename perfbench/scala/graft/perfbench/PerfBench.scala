package graft.perfbench

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Paths}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.PerfbenchBus
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.execution.LogicalRDD
import org.apache.spark.sql.functions._

import graft.{Sessions, SparkEntry}
import graft.mef.{Analytics, MefPipeline, MefSchema, Normalize, Star, Transform, Validate, Views}
import graft.mef.Star.StarSchema
import graft.sources.CsvIngest

/** JVM side of the benchmark: runs one workload against the program's
  * public API and writes what it measured to `<out>/result.json`
  * (plus `spans.jsonl` when traced). The Python front end
  * (`perfbench/run.py`) generates the inputs, starts this program,
  * checks the outputs and prints the metrics.
  *
  * Usage: PerfBench --workload W --data DIR --out DIR --trace 0|1 --cpus N
  *
  * Every timed operation ends in the action a user runs: a star build
  * or append (which materializes), `collect()` of a small result, or a
  * `noop` write of a wide one. With --trace 1 every op is traced and
  * the run states the time its tracing took.
  */
object PerfBench {

  final case class Op(
      i: Int, kind: String, seconds: Double, cpuSeconds: Double, stages: Long,
      traced: Boolean, ok: Boolean, error: String)

  private val os = java.lang.management.ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean]

  /** CPU time of this JVM (all threads), in nanoseconds. */
  def processCpuNs: Long = os.getProcessCpuTime

  def main(argv: Array[String]): Unit = {
    val kv = argv.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val t0 = System.nanoTime()
    val spark = Sessions.local(kv("cpus"))
    val sessionS = (System.nanoTime() - t0) / 1e9
    val run = new Run(spark, kv)
    try {
      val body = run.execute()
      val record = body ++ Map(
        "session_start_s" -> sessionS,
        "spark_version" -> spark.version,
        "jvm_version" -> System.getProperty("java.version"),
        "jvm_vendor" -> System.getProperty("java.vendor"),
        "confs" -> spark.conf.getAll.toSeq.sortBy(_._1).toMap)
      run.write("result.json", Json(record))
      if (run.traced) run.write("spans.jsonl", run.tr.spanLines.mkString("\n") + "\n")
    } finally spark.stop()
  }

  final class Run(spark: SparkSession, kv: Map[String, String]) {
    val workload = kv("workload")
    val data = kv("data")
    val out = kv("out")
    val traced = kv("trace") == "1"
    val tr = new Tracer(spark, traced)
    val ops = mutable.ArrayBuffer.empty[Op]
    val setupUnits = mutable.ArrayBuffer.empty[Double]
    val outputs = mutable.LinkedHashMap.empty[String, Any]

    def write(name: String, text: String): Unit =
      Files.write(Paths.get(out, name), text.getBytes(UTF_8))

    def lines(name: String): Seq[String] =
      Files.readAllLines(Paths.get(data, name), UTF_8).asScala.toSeq.filter(_.nonEmpty)

    def secs(t: Long): Double = (System.nanoTime() - t) / 1e9

    def noop(df: DataFrame): Unit = df.write.format("noop").mode("overwrite").save()

    def rows(rs: Array[Row]): Seq[Seq[Any]] = rs.toSeq.map(_.toSeq)

    /** Run a set-up unit (traced as phase "setup") and keep its duration. */
    def setupUnit(name: String)(body: => Unit): Unit = {
      tr.enabled = traced
      val t = System.nanoTime()
      tr.span(name, phase = "setup")(body)
      setupUnits += secs(t)
      tr.enabled = false
    }

    /** One closed-loop client: run `op` back to back exactly `n` times.
      * The set of timed ops is fixed by the workload, never by wall
      * time, so a change that speeds some ops up cannot change which ops
      * are sampled. `pre`/`post` and the stage count (listener bus
      * drained before and after) run outside the timer.
      */
    def timedLoop(kind: Int => String, n: Int,
                  pre: Int => Unit = _ => (), post: Int => Unit = _ => ())(
                  op: Int => Unit): Unit = {
      var i = 0
      while (i < n) {
        pre(i)
        PerfbenchBus.drain(spark.sparkContext)
        val stages0 = tr.stagesDone.get
        tr.enabled = traced
        val t = System.nanoTime()
        val c = processCpuNs
        val err =
          try { tr.span(s"op.${kind(i)}", i)(op(i)); "" }
          catch { case e: Exception => e.toString }
        val s = secs(t)
        val cpu = (processCpuNs - c) / 1e9
        tr.enabled = false
        PerfbenchBus.drain(spark.sparkContext)
        ops += Op(i, kind(i), s, cpu, tr.stagesDone.get - stages0, traced, err.isEmpty, err)
        if (err.nonEmpty) System.err.println(s"[perfbench] op $i failed: $err")
        post(i)
        i += 1
      }
    }

    /** A side measurement of a single layer (callers run it in traced runs only). */
    def side(name: String)(body: => Unit): Unit = {
      tr.enabled = true
      try tr.span(name, phase = "side")(body) finally tr.enabled = false
    }

    /** Block-store bytes (memory + disk) of the materialized frames
      * behind `dfs`: the RDDs their plans read through LogicalRDD.
      */
    def storedBytes(dfs: Seq[DataFrame]): Long = {
      PerfbenchBus.drain(spark.sparkContext)
      val ids = dfs.flatMap(_.queryExecution.logical.collect { case l: LogicalRDD => l.rdd.id }).toSet
      spark.sparkContext.getRDDStorageInfo.filter(i => ids.contains(i.id)).map(i => i.memSize + i.diskSize).sum
    }

    def starBytes(star: StarSchema): Long = storedBytes(star.fact +: star.dims.values.toSeq)

    /** Measure totals per (year, sector) straight off the star. */
    def starTotals(star: StarSchema): Seq[Seq[Any]] =
      rows(star.fact
        .join(star.dimTiempo, "tiempo_id")
        .join(star.dims("dim_ejecutora"), "ejecutora_id")
        .groupBy(col("anio"), col("sector_nombre"))
        .agg(count(lit(1)).as("n"), MefSchema.measures.map(m => sum(col(m)).as(m)): _*)
        .collect())

    def validateRows(star: StarSchema): Seq[Seq[Any]] = rows(Validate.validate(spark, star).collect())

    /** One CSV batch as the normalized frame `Star.append` takes. */
    def batch(path: String): DataFrame = {
      val raw = tr.span("sources.csv_ingest")(CsvIngest(spark, path))
      Normalize(Transform(raw))
    }

    /** Single-layer measurements of one CSV set: encoding probes, and
      * Transform and Normalize as noop writes.
      */
    def loadLayers(files: Seq[String]): Unit = {
      files.foreach(f => side("sources.csv_ingest")(CsvIngest(spark, f)))
      side("mef.transform")(noop(MefPipeline.transform(spark, files)))
      side("mef.normalize")(noop(Normalize(MefPipeline.transform(spark, files))))
    }

    /** Rows out of Transform; the generator knows the raw rows, so the
      * difference is the rows dropped by P3 (and by any malformed-line drop).
      */
    def transformedRows(files: Seq[String]): Unit =
      outputs("transformed_rows") = MefPipeline.transform(spark, files).count()

    def execute(): Map[String, Any] = {
      workload match {
        case "full_load" => fullLoad()
        case "monthly_append" => monthlyAppend()
        case w => throw new IllegalArgumentException(s"unknown workload $w")
      }
      val opCounters = new Counters
      tr.spans.filter(_.phase == "op").foreach(s => opCounters.add(s.self))
      Map(
        "workload" -> workload,
        "setup_units_s" -> setupUnits.toSeq,
        "ops" -> ops.toSeq.map(o => Map(
          "i" -> o.i, "kind" -> o.kind, "s" -> o.seconds, "cpu_s" -> o.cpuSeconds, "stages" -> o.stages, "traced" -> o.traced,
          "ok" -> o.ok, "error" -> o.error)),
        "outputs" -> outputs.toMap,
        "layers" -> Map(
          "op" -> tr.summary("op"), "setup" -> tr.summary("setup"), "side" -> tr.summary("side")),
        "traced_op_totals" -> opCounters.toMap,
        "traced_op_wall_s" -> ops.filter(_.traced).map(_.seconds).sum)
    }

    // ---- full_load: CSV drop -> star -> constraint validation ----------

    def fullLoad(): Unit = {
      val files = lines("files.txt")
      var star: StarSchema = null
      val violations = mutable.ArrayBuffer.empty[Seq[Seq[Any]]]
      // exactly one op, the first load in a fresh JVM: what a monthly batch
      // job pays. It composes what MefPipeline.buildFromCsv composes, so the
      // encoding probes of CsvIngest count under sources, not the build.
      timedLoop(_ => "load", n = 1) { _ =>
        val raws = files.map(f => tr.span("sources.csv_ingest")(CsvIngest(spark, f)))
        star = tr.span("mef.star.build")(
          Star.build(spark, Normalize(raws.map(Transform(_)).reduce(_ unionByName _))))
        violations += tr.span("mef.validate")(validateRows(star))
      }
      outputs("validate_per_op") = violations.toSeq
      if (star == null) return // every load failed; the checks report it
      outputs("stored_bytes") = starBytes(star)
      outputs("star_totals") = starTotals(star)
      outputs("fact_rows") = star.fact.count()
      transformedRows(files)
      if (traced) {
        readPass(star, lines("queries.txt").map(_.split("\t", -1).toSeq))
        loadLayers(files)
        catalogPass()
        // one more month folded in, then re-delivered, so the append layer
        // is measured here too
        val extra = lines("append.txt").head
        var grown = star
        side("mef.star.append") { grown = Star.append(spark, star, batch(extra)) }
        var again = grown
        side("mef.star.append.redelivery") { again = Star.append(spark, grown, batch(extra)) }
        outputs("side_append_fact_rows") = Seq(grown.fact.count(), again.fact.count())
      }
    }

    /** The read path over a loaded star, once per query type, outside the
      * timers: analytics collected, views noop-written, each a span.
      * Analytic rows and view totals go to `read_pass.json` for the
      * output checks.
      */
    def readPass(star: StarSchema, queries: Seq[Seq[String]]): Unit = {
      tr.enabled = true
      val results = queries.map { q =>
        val Seq(kind, p1, p2, sector, k) = q
        def analytic(df: => DataFrame) = tr.span(s"mef.analytics.$kind", phase = "side")(rows(df.collect()))
        def view(df: DataFrame, dev: String, pim: String) = {
          tr.span(s"mef.views.$kind", phase = "side")(noop(df))
          Seq(rows(df.agg(count(lit(1)), sum(col(dev)), sum(col(pim))).collect()).head)
        }
        val r = kind match {
          case "a4" => analytic(Analytics.ytdDevengadoPorSector(star, p1.toInt, p2.toInt))
          case "a5" => analytic(Analytics.topEjecutorasPorDevengado(star, p1.toInt, k.toInt))
          case "a6" => analytic(Analytics.participacionPorEjecutora(star, p1.toInt, p2.toInt, sector))
          case "a7" => analytic(Analytics.pendientePorEjecutar(star, p1.toInt, p2.toInt, k.toInt))
          case "a8" => analytic(Analytics.evolucionTrimestral(star, p1.toInt, p2.toInt))
          case "vw_gasto_mensual" => view(Views.vwGastoMensual(star), "monto_devengado", "monto_pim")
          case "vw_gasto_agregado_mensual" => view(Views.vwGastoAgregadoMensual(star), "devengado", "pim")
          case "vw_gasto_agregado_anual" =>
            val df = Views.vwGastoAgregadoAnual(star)
            tr.span(s"mef.views.$kind", phase = "side")(noop(df))
            rows(df.select("anio", "sector_nombre", "pliego_nombre", "pim", "devengado", "girado").collect())
        }
        Map("q" -> q, "rows" -> r)
      }
      tr.enabled = false
      write("read_pass.json", Json(results))
    }

    // ---- monthly_append: one month's batch per op, then the A4 refresh --

    def monthlyAppend(): Unit = {
      val base +: monthLines = lines("files.txt")
      val months = monthLines.map(_.split("\t")).map(a => (a(0), a(1).toInt, a(2).toInt))
      def appendMonth(star: StarSchema, m: (String, Int, Int)): (StarSchema, Map[String, Any]) = {
        val (path, year, month) = m
        val next = tr.span("mef.star.append")(Star.append(spark, star, batch(path)))
        val refresh = tr.span("mef.analytics.a4")(
          rows(Analytics.ytdDevengadoPorSector(next, year, month).collect()))
        (next, Map("year" -> year, "month" -> month, "rows" -> refresh))
      }
      val refreshes = mutable.ArrayBuffer.empty[Map[String, Any]]
      var star: StarSchema = null
      setupUnit("setup.base_build") {
        star = tr.span("mef.star.build")(MefPipeline.buildFromCsv(spark, Seq(base)))
      }
      outputs("base_star_totals") = starTotals(star)
      outputs("base_fact_rows") = star.fact.count()
      outputs("stored_bytes") = starBytes(star)
      // the first month folds in as set-up, so the timed appends run warm
      setupUnit("setup.warm_append") {
        val (next, refresh) = appendMonth(star, months.head)
        star = next
        refreshes += refresh
      }

      val fresh = mutable.ArrayBuffer.empty[Long]
      var before = 0L
      // every later month is timed, whatever the wall time
      timedLoop(_ => "append", n = months.size - 1,
        pre = _ => { System.gc(); if (traced) before = star.fact.count() },
        post = _ => if (traced) fresh += star.fact.count() - before) { i =>
        val (next, refresh) = appendMonth(star, months(i + 1))
        star = next
        refreshes += refresh
      }
      outputs("refreshes") = refreshes.toSeq
      outputs("months_appended") = refreshes.size
      outputs("fresh_fact_rows") = fresh.toSeq

      // re-delivery of an already-loaded month must change nothing
      def dimIds(s: StarSchema): Seq[String] = MefSchema.dims.map { spec =>
        s.dims(spec.name).select(concat_ws("|", lit(spec.name) +: (spec.id +: spec.keys)
          .map(k => coalesce(col(k).cast("string"), lit("<null>"))): _*))
      }.reduce(_ union _).collect().map(_.getString(0)).sorted.toSeq
      val factBefore = star.fact.count()
      val idsBefore = dimIds(star)
      tr.enabled = traced
      val t = System.nanoTime()
      val again = tr.span("mef.star.append.redelivery", phase = "side")(
        Star.append(spark, star, batch(months.head._1)))
      outputs("redelivery_s") = secs(t)
      tr.enabled = false
      outputs("redelivery_fact_rows") = Seq(factBefore, again.fact.count())
      outputs("redelivery_dims_unchanged") = dimIds(again) == idsBefore
      // P3 counts and single-layer measurements on the first month
      transformedRows(Seq(months.head._1))
      if (traced) {
        loadLayers(Seq(months.head._1))
        readPass(again, lines("queries.txt").map(_.split("\t", -1).toSeq))
        var violations: Seq[Seq[Any]] = Nil
        side("mef.validate") { violations = validateRows(again) }
        outputs("final_validate") = violations
        catalogPass()
      }
    }

    // ---- the operator catalogue, traced runs only ------------------------

    /** One pass over class representatives of `SparkEntry.queries` on the
      * generated TPC-H-like tables: construction (eager jobs inside the
      * query function) and a noop write, each a span; then, untimed, the
      * result as parquet for the oracle check.
      */
    def catalogPass(): Unit = {
      val dir = s"$data/tables"
      val catalog = SparkEntry.queries
      val order = lines("catalog.txt")
      val failures = mutable.LinkedHashMap.empty[String, String]
      val oracles = SparkEntry.oracleSql
      tr.enabled = true
      val t = System.nanoTime()
      order.foreach { q =>
        try {
          val df = tr.span("queries.construct", phase = "side")(catalog(q)(spark, dir))
          tr.span("queries.exec", phase = "side")(noop(df))
        } catch { case e: Exception => failures(q) = e.toString }
      }
      outputs("catalog_pass_s") = secs(t)
      tr.enabled = false
      order.filterNot(failures.contains).foreach { q =>
        try catalog(q)(spark, dir).write.mode("overwrite").parquet(s"$out/catalog/$q")
        catch { case e: Exception => failures(q) = e.toString }
      }
      outputs("catalog_failures") = failures.toMap
      write("oracle_sql.json", Json(order.flatMap(q => oracles.get(q).map(q -> _)).toMap))
    }
  }
}

package graft

import java.nio.file.{Files, Path}

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.types.{StringType, StructField, StructType}

import graft.streaming.MefStreamingLoad

/** The streaming warehouse load, driven synchronously through
  * MemoryStream / a json file source + processAllAvailable (the local
  * smoke pattern from the public Spark docs). The restart test stops
  * between micro-batches, restarts from the same checkpointLocation and
  * must land bit-identical to an uninterrupted run: the offset log
  * guarantees pending input processes exactly once, and
  * [[graft.mef.Star.append]]'s keyed idempotence covers the
  * at-least-once edge (a batch replayed from an uncommitted offset).
  */
class MefStreamingLoadSpec extends SparkSuite {
  import spark.implicits._

  /** One json-lines file per micro-batch, written atomically (tmp +
    * move) so the file source never reads a half-written file.
    */
  private def writeJsonFile(srcDir: Path, name: String, lines: Seq[String]): Unit = {
    val tmp = Files.createTempFile("stream_src", ".json")
    Files.writeString(tmp, lines.mkString("\n"))
    Files.move(tmp, srcDir.resolve(name))
    ()
  }

  test("streaming star load: micro-batches fold via Star.append; replay no-op") {
    implicit val sqlCtx = spark.sqlContext
    // (ANO_EJE, MES_EJE, SEC_EJEC, EJECUTORA, SECTOR_NOMBRE, MONTO_DEVENGADO)
    val mem = MemoryStream[(String, String, String, String, String, String)]
    val loader = new graft.streaming.MefStreamingLoad
    val q = loader.writer(mem.toDF().toDF(
      "ANO_EJE", "MES_EJE", "SEC_EJEC", "EJECUTORA", "SECTOR_NOMBRE",
      "MONTO_DEVENGADO")).start()

    mem.addData(("2024", "1", "001", "E1", "SALUD", "50"))
    q.processAllAvailable()
    val afterB1 = loader.star.get
    val e1Id = afterB1.dims("dim_ejecutora").collect()
      .find(_.getAs[String]("ejecutora_codigo") == "E1").get.getAs[Int]("ejecutora_id")

    val b2 = Seq(
      ("2024", "2", "001", "E1", "SALUD", "25"),
      ("2024", "2", "002", "E2", "EDU", "30"))
    mem.addData(b2: _*)
    q.processAllAvailable()
    mem.addData(b2: _*) // redelivery: at-least-once replay must be a no-op
    q.processAllAvailable(); q.stop()

    val star = loader.star.get
    assert(star.fact.count() == 3, "3 grains after both batches + replay")
    val ytd = graft.mef.Analytics.ytdDevengadoPorSector(star, 2024, 2)
      .collect().map(r => r.getString(0) -> r.getDouble(1)).toMap
    assert(ytd == Map("SALUD" -> 75.0, "EDU" -> 30.0))
    val e1After = star.dims("dim_ejecutora").collect()
      .find(_.getAs[String]("ejecutora_codigo") == "E1").get.getAs[Int]("ejecutora_id")
    assert(e1After == e1Id, "surrogate ids survive streaming appends")
    assert(graft.mef.Validate.holds(spark, star),
      "streaming-loaded star satisfies every warehouse constraint")
  }

  test("MefStreamingLoad restarts from its checkpoint: star ≡ uninterrupted load sequence") {
    val base = Files.createTempDirectory("mef_recovery")
    val srcDir = Files.createDirectory(base.resolve("src"))
    val cp = base.resolve("cp").toString
    val cols = Seq(
      "ANO_EJE", "MES_EJE", "SEC_EJEC", "EJECUTORA", "SECTOR_NOMBRE",
      "MONTO_DEVENGADO")
    val schema = StructType(cols.map(StructField(_, StringType)))
    def rowJson(vs: Seq[String]) =
      cols.zip(vs).map { case (c, v) => s""""$c":"$v"""" }.mkString("{", ",", "}")
    val batch1 = Seq(
      Seq("2024", "1", "001", "E1", "SALUD", "50"),
      Seq("2024", "1", "002", "E2", "EDU", "30"))
    val batch2 = Seq(
      Seq("2024", "2", "001", "E1", "SALUD", "25"),
      Seq("2024", "2", "003", "E3", "AGRO", "40"))
    def stream() = spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", "1").json(srcDir.toString)

    val loader = new MefStreamingLoad
    writeJsonFile(srcDir, "load1.json", batch1.map(rowJson))
    val q1 = loader.writer(stream()).option("checkpointLocation", cp).start()
    try q1.processAllAvailable() finally q1.stop() // down between loads
    val e1Id = loader.star.get.dims("dim_ejecutora").collect()
      .find(_.getAs[String]("ejecutora_codigo") == "E1").get
      .getAs[Int]("ejecutora_id")

    writeJsonFile(srcDir, "load2.json", batch2.map(rowJson))
    val q2 = loader.writer(stream()).option("checkpointLocation", cp).start()
    try q2.processAllAvailable() finally q2.stop()

    // a third restart with nothing pending must load nothing
    val factN = loader.star.get.fact.count()
    val q3 = loader.writer(stream()).option("checkpointLocation", cp).start()
    try q3.processAllAvailable() finally q3.stop()
    assert(loader.star.get.fact.count() == factN)

    // ≡ the uninterrupted twin: same two loads, no restart in between
    val twin = new MefStreamingLoad
    def asRaw(rows: Seq[Seq[String]]) =
      rows.map { case Seq(a, b, c, d, e, f) => (a, b, c, d, e, f) }
        .toDF(cols: _*)
    twin.loadBatch(asRaw(batch1))
    twin.loadBatch(asRaw(batch2))
    val got = loader.star.get
    val want = twin.star.get
    assert(got.fact.exceptAll(want.fact).isEmpty &&
      want.fact.exceptAll(got.fact).isEmpty, "fact diverged through restart")
    want.dims.keys.foreach { d =>
      assert(got.dims(d).exceptAll(want.dims(d)).isEmpty &&
        want.dims(d).exceptAll(got.dims(d)).isEmpty, s"dim $d diverged")
    }
    // surrogate ids survive the restart (the SERIAL contract)
    val e1After = got.dims("dim_ejecutora").collect()
      .find(_.getAs[String]("ejecutora_codigo") == "E1").get
      .getAs[Int]("ejecutora_id")
    assert(e1After == e1Id, "surrogate id changed across the restart")
    assert(graft.mef.Validate.holds(spark, got),
      "recovered star violates a warehouse constraint")
  }
}

package graft

import java.nio.charset.StandardCharsets.{ISO_8859_1, UTF_8}
import java.nio.file.{Files, Path}
import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.TestListenerBus
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}

import graft.sources.CsvIngest

/** `CsvIngest`'s driver-side encoding probe against Spark's own header
  * read: per candidate encoding, `spark.read` with `header` = true names
  * the columns, and the first encoding whose header and first 100 data
  * rows hold no U+FFFD wins (latin-1 otherwise).
  */
class CsvIngestSpec extends SparkSuite {

  private def write(bytes: Array[Byte]): String = {
    val p: Path = Files.createTempDirectory("csv_ingest").resolve("2024-Gasto-Mensual.csv")
    Files.write(p, bytes)
    p.toString
  }

  private def lines(ls: String*): String = ls.mkString("\n")

  /** Spark's own answer: a header read plus a 100-row sample per
    * candidate, two jobs each.
    */
  private def sparkProbe(path: String): (String, Seq[String]) = {
    def read(enc: String) = spark.read
      .option("header", "true").option("sep", ",").option("encoding", enc).csv(path)
    CsvIngest.encodings.iterator.map(enc => enc -> read(enc))
      .find { case (_, df) =>
        !df.columns.exists(_.contains('\uFFFD')) &&
          !df.limit(100).collect().exists(_.toSeq.exists {
            case s: String => s.contains('\uFFFD')
            case _ => false
          })
      }
      .map { case (enc, df) => enc -> df.columns.toSeq }
      .getOrElse("ISO-8859-1" -> read("ISO-8859-1").columns.toSeq)
  }

  private def probeMatchesSpark(path: String): (String, Seq[String]) = {
    val probed = CsvIngest.probe(spark, path)
    assert(probed == sparkProbe(path))
    probed
  }

  private val clean = lines("ANO_EJE,MES_EJE,SECTOR_NOMBRE", "2024,1,SALUD", "2024,2,EDUCACION")

  test("UTF-8: chosen, header as Spark names it") {
    val path = write(lines("ANO_EJE,MES_EJE,SECTOR_NOMBRE", "2024,1,Educación").getBytes(UTF_8))
    assert(probeMatchesSpark(path) == ("UTF-8" -> Seq("ANO_EJE", "MES_EJE", "SECTOR_NOMBRE")))
    assert(CsvIngest(spark, path).collect().map(_.getString(2)).toSeq == Seq("Educación"))
  }

  test("UTF-8 with BOM: UTF-8, and the first column carries no BOM") {
    val path = write("\uFEFF".getBytes(UTF_8) ++ clean.getBytes(UTF_8))
    assert(probeMatchesSpark(path) == ("UTF-8" -> Seq("ANO_EJE", "MES_EJE", "SECTOR_NOMBRE")))
    assert(CsvIngest(spark, path).columns.toSeq == Seq("ANO_EJE", "MES_EJE", "SECTOR_NOMBRE"))
  }

  test("latin-1 with accents in the header and the values") {
    val text = lines("AÑO_EJE,MES_EJE,DEPARTAMENTO", "2024,1,San Martín", "2024,2,Junín")
    val path = write(text.getBytes(ISO_8859_1))
    assert(probeMatchesSpark(path) == ("ISO-8859-1" -> Seq("AÑO_EJE", "MES_EJE", "DEPARTAMENTO")))
    assert(CsvIngest(spark, path).collect().map(_.getString(2)).toSeq == Seq("San Martín", "Junín"))
  }

  test("latin-1 behind a UTF-8 BOM: the BOM is skipped, not decoded as latin-1") {
    val text = lines("AÑO_EJE,DEPARTAMENTO", "2024,Junín")
    val path = write("\uFEFF".getBytes(UTF_8) ++ text.getBytes(ISO_8859_1))
    assert(probeMatchesSpark(path) == ("ISO-8859-1" -> Seq("AÑO_EJE", "DEPARTAMENTO")))
  }

  test("latin-1 accents only in the values still fall back to latin-1") {
    val text = lines("ANO_EJE,MES_EJE,DEPARTAMENTO", "2024,1,San Martín")
    assert(probeMatchesSpark(write(text.getBytes(ISO_8859_1)))._1 == "ISO-8859-1")
  }

  test("padded and lower-case headers keep their spaces and case") {
    val path = write(lines("\" ano_eje \",mes_eje, Sector ", "2024,1,SALUD").getBytes(UTF_8))
    assert(probeMatchesSpark(path) == ("UTF-8" -> Seq(" ano_eje ", "mes_eje", " Sector ")))
  }

  test("duplicate and empty header cells: makeSafeHeader suffixes and _c<i>") {
    val path = write(lines("a,A,,b,a", "1,2,3,4,5").getBytes(UTF_8))
    assert(probeMatchesSpark(path) == ("UTF-8" -> Seq("a0", "A1", "_c2", "b", "a4")))
    assert(CsvIngest(spark, path).columns.toSeq == Seq("a0", "A1", "_c2", "b", "a4"))
  }

  test("blank lines before the header and before the data") {
    val text = lines("", "   ", "ANO_EJE,MES_EJE", "", "  ", "2024,1", "", "2024,2")
    val path = write(text.getBytes(UTF_8))
    assert(probeMatchesSpark(path) == ("UTF-8" -> Seq("ANO_EJE", "MES_EJE")))
  }

  test("CRLF line ends") {
    val path = write(clean.replace("\n", "\r\n").getBytes(UTF_8))
    assert(probeMatchesSpark(path) == ("UTF-8" -> Seq("ANO_EJE", "MES_EJE", "SECTOR_NOMBRE")))
  }

  test("an empty file: UTF-8 and zero columns") {
    val path = write(Array.emptyByteArray)
    assert(probeMatchesSpark(path) == ("UTF-8" -> Nil))
    assert(CsvIngest(spark, path).columns.isEmpty)
  }

  test("the probe window: a latin-1 byte on data line 100 counts, on line 101 it does not") {
    def withAccentOnDataLine(n: Int): String = {
      val data = (1 to 120).map(i => if (i == n) s"2024,$i,Junín" else s"2024,$i,SALUD")
      write(lines("ANO_EJE,MES_EJE,SECTOR" +: data: _*).getBytes(ISO_8859_1))
    }
    // file line 101, the last the probe decodes
    assert(probeMatchesSpark(withAccentOnDataLine(100))._1 == "ISO-8859-1")
    // file line 102: outside the window, so UTF-8 stands
    assert(probeMatchesSpark(withAccentOnDataLine(101))._1 == "UTF-8")
  }

  test("tripwire: CsvIngest runs no Spark job") {
    val path = write(lines("ANO_EJE,DEPARTAMENTO", "2024,San Martín").getBytes(ISO_8859_1))
    val jobs = new AtomicInteger
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = jobs.incrementAndGet()
    }
    TestListenerBus.drain(spark.sparkContext)
    spark.sparkContext.addSparkListener(listener)
    try {
      CsvIngest(spark, path)
      TestListenerBus.drain(spark.sparkContext)
    } finally spark.sparkContext.removeSparkListener(listener)
    assert(jobs.get == 0, s"CsvIngest ran ${jobs.get} Spark jobs")
  }
}

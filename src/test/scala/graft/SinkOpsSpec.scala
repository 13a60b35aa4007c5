package graft

import java.nio.file.Files

import org.apache.spark.sql.functions._

import graft.sources.Compactor

class SinkOpsSpec extends SparkSuite {
  import spark.implicits._

  test("source breadth: JSON and ORC round-trip the normalized frame") {
    val dir = Files.createTempDirectory("fmt").toString
    val src = Tables.orders(spark, "/root/testdata/sf0.001")
      .select(col("o_orderkey"), col("o_orderstatus"), col("o_totalprice"))
    src.write.mode("overwrite").json(dir + "/j")
    src.write.mode("overwrite").orc(dir + "/o")
    val j = spark.read.json(dir + "/j")
    val o = spark.read.orc(dir + "/o")
    assert(o.schema == src.schema, "ORC preserves types exactly")
    assert(j.count() == src.count() && o.count() == src.count())
    val total = src.agg(sum("o_totalprice")).head.getDouble(0)
    assert(o.agg(sum("o_totalprice")).head.getDouble(0) == total)
    assert(j.agg(sum("o_totalprice")).head.getDouble(0) == total)
  }

  test("schema evolution: mergeSchema unions schemas across writes (ALTER TABLE analog, §2.11)") {
    val dir = Files.createTempDirectory("evolve").toString
    Seq((1L, "a")).toDF("id", "v").write.parquet(dir + "/batch=1")
    // a later load adds a column — the reference would ALTER TABLE ADD
    Seq((2L, "b", 3.0)).toDF("id", "v", "extra").write.parquet(dir + "/batch=2")
    val merged = spark.read.option("mergeSchema", value = true).parquet(dir)
    assert(merged.columns.toSet == Set("id", "v", "extra", "batch"))
    assert(merged.filter(col("batch") === 1).select("extra").head.isNullAt(0),
      "pre-evolution rows read null for the added column")
    assert(merged.filter(col("batch") === 2).select("extra").head.getDouble(0) == 3.0)
  }

  test("dataset manifest: fingerprint survives rewrite, catches mutation") {
    import graft.sources.DatasetManifest
    val dir = Files.createTempDirectory("manifest").toString + "/ds"
    val src = Tables.region(spark, "/root/testdata/sf0.001")
    val written = DatasetManifest.write(src, dir)
    assert(written.rows == 5)
    val (stored, actual) = DatasetManifest.verify(spark, dir)
    assert(stored == actual, "clean re-read must verify")
    // a layout rewrite (different partitioning, same rows) still verifies
    val dir2 = Files.createTempDirectory("manifest2").toString + "/ds"
    spark.read.parquet(dir).repartition(4).write.parquet(dir2)
    Files.copy(
      java.nio.file.Paths.get(dir, "_graft_manifest.json"),
      java.nio.file.Paths.get(dir2, "_graft_manifest.json"))
    val (s2, a2) = DatasetManifest.verify(spark, dir2)
    assert(s2 == a2, "order-independent fingerprint must survive repartition")
    // mutate: append one row -> count AND hash move
    src.limit(1).write.mode("append").parquet(dir2)
    val (s3, a3) = DatasetManifest.verify(spark, dir2)
    assert(s3 != a3 && a3.rows == 6, "mutation must break verification")
  }

  test("compactor: shrinks a many-file dataset to the planned file count") {
    val dir = Files.createTempDirectory("compact_in").toString
    val out = Files.createTempDirectory("compact_out").toString
    // 16 small files
    spark.range(20000).select(col("id"), (col("id") * 2).as("v"))
      .repartition(16).write.mode("overwrite").parquet(dir)
    val df = spark.read.parquet(dir)
    assert(df.inputFiles.length == 16)
    val planned = Compactor.plannedFileCount(df, targetBytes = 1L << 20)
    Compactor.compact(df, out, targetBytes = 1L << 20)
    val compacted = spark.read.parquet(out)
    assert(compacted.inputFiles.length == planned)
    assert(planned < 16)
    // content preserved
    assert(compacted.agg(sum("v")).collect()(0).getLong(0) ==
      df.agg(sum("v")).collect()(0).getLong(0))
    assert(compacted.count() == 20000)
  }

  test("compactor: widening a single huge-file dataset uses repartition") {
    val dir = Files.createTempDirectory("compact_one").toString
    val out = Files.createTempDirectory("compact_wide").toString
    spark.range(50000).select(col("id"), md5(col("id").cast("string")).as("s"))
      .coalesce(1).write.mode("overwrite").parquet(dir)
    val df = spark.read.parquet(dir)
    assert(df.inputFiles.length == 1)
    val planned = Compactor.plannedFileCount(df, targetBytes = 256L * 1024)
    Compactor.compact(df, out, targetBytes = 256L * 1024)
    assert(spark.read.parquet(out).inputFiles.length == planned)
    assert(planned > 1)
    assert(spark.read.parquet(out).count() == 50000)
  }
}

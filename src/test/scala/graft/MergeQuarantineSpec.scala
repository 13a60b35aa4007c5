package graft

import java.nio.file.Files

import graft.sources.ParquetMerge

class MergeQuarantineSpec extends SparkSuite {
  import spark.implicits._

  test("parquet upsert: insert, update (last wins), survivors untouched, idempotent") {
    val target = Files.createTempDirectory("merge").toString + "/t"
    // initial load on empty target
    ParquetMerge.upsert(spark, target,
      Seq((1L, "a", 10.0), (2L, "b", 20.0)).toDF("k", "s", "v"), Seq("k"))
    // update k=2, insert k=3; duplicate update rows for k=3 -> max-struct wins
    ParquetMerge.upsert(spark, target,
      Seq((2L, "b2", 21.0), (3L, "c", 30.0), (3L, "c", 29.0)).toDF("k", "s", "v"), Seq("k"))
    val got = spark.read.parquet(target).orderBy("k")
      .collect().map(r => (r.getLong(0), r.getString(1), r.getDouble(2)))
    assert(got.toSeq == Seq((1L, "a", 10.0), (2L, "b2", 21.0), (3L, "c", 30.0)))
    // replaying the same update batch changes nothing
    ParquetMerge.upsert(spark, target,
      Seq((2L, "b2", 21.0), (3L, "c", 30.0), (3L, "c", 29.0)).toDF("k", "s", "v"), Seq("k"))
    assert(spark.read.parquet(target).orderBy("k")
      .collect().map(r => (r.getLong(0), r.getString(1), r.getDouble(2))).toSeq == got.toSeq)
  }

  test("parquet upsert: recovers a crash between the two swap renames") {
    val target = Files.createTempDirectory("merge_crash").toString + "/t"
    ParquetMerge.upsert(spark, target,
      Seq((1L, "a", 10.0), (2L, "b", 20.0)).toDF("k", "s", "v"), Seq("k"))
    // simulate a kill after target moved aside but before tmp renamed
    // in: the corpus survives ONLY at *_old
    val fs = new org.apache.hadoop.fs.Path(target)
      .getFileSystem(spark.sessionState.newHadoopConf())
    assert(fs.rename(
      new org.apache.hadoop.fs.Path(target),
      new org.apache.hadoop.fs.Path(target + "_old")))
    // next upsert must restore the old corpus, not rebuild from the batch
    ParquetMerge.upsert(spark, target,
      Seq((3L, "c", 30.0)).toDF("k", "s", "v"), Seq("k"))
    val got = spark.read.parquet(target).orderBy("k")
      .collect().map(r => (r.getLong(0), r.getString(1), r.getDouble(2)))
    assert(got.toSeq == Seq((1L, "a", 10.0), (2L, "b", 20.0), (3L, "c", 30.0)),
      "pre-crash rows must survive recovery")
  }
}

package graft

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.functions._

import graft.operators.{GraphOps, Materialized}

/** [[Materialized.require]]: the checked form of "the caller passes a
  * materialized frame" (GraphOps' `assumeCanonical`, dbscanCensus). It
  * reads the analyzed plan only, so it must run no Spark job.
  */
class MaterializedSpec extends SparkSuite {

  private def refusal(df: => org.apache.spark.sql.DataFrame): String =
    intercept[IllegalArgumentException](Materialized.require(df, "edges")).getMessage

  test("a checkpoint seen through map-only operators passes") {
    val ck = spark.range(10).select(col("id").as("u"), (col("id") + 1).as("v"))
      .localCheckpoint()
    val mapped = ck.filter(col("u") < 5).select(col("v").as("u"), col("u").as("v"))
      .unionByName(ck)
    assert(Materialized.require(mapped, "edges") eq mapped)
  }

  test("a leaf other than a checkpoint is refused, by name") {
    assert(refusal(spark.range(10).toDF("u")).contains("Range"))
    import spark.implicits._
    assert(refusal(Seq((1L, 2L)).toDF("u", "v")).contains("LocalRelation"))
  }

  test("a Join, Aggregate, Window or Distinct above a checkpoint is refused, by name") {
    val ck = spark.range(10).select(col("id").as("u"), (col("id") % 3).as("v"))
      .localCheckpoint()
    assert(refusal(ck.join(ck.select(col("u").as("x")), col("u") === col("x")))
      .contains("Join"))
    assert(refusal(ck.groupBy(col("v")).agg(count(lit(1)))).contains("Aggregate"))
    assert(refusal(ck.withColumn("r", row_number().over(
      org.apache.spark.sql.expressions.Window.partitionBy(col("v")).orderBy(col("u")))))
      .contains("Window"))
    assert(refusal(ck.distinct()).contains("Deduplicate"))
    ck.createOrReplaceTempView("materialized_spec_ck")
    assert(refusal(spark.sql("SELECT DISTINCT v FROM materialized_spec_ck"))
      .contains("Distinct"))
  }

  test("the check runs no Spark job") {
    val ck = spark.range(10).select(col("id").as("u"), col("id").as("v")).localCheckpoint()
    val jobs = new java.util.concurrent.atomic.AtomicInteger()
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = { jobs.incrementAndGet(); () }
    }
    org.apache.spark.ListenerBusDrain.drain(spark.sparkContext)
    spark.sparkContext.addSparkListener(listener)
    try {
      Materialized.require(ck.filter(col("u") > 1), "edges")
      intercept[IllegalArgumentException](Materialized.require(ck.distinct(), "edges"))
      org.apache.spark.ListenerBusDrain.drain(spark.sparkContext)
    } finally spark.sparkContext.removeSparkListener(listener)
    assert(jobs.get == 0)
  }

  test("lubyMis(assumeCanonical = true) refuses a canonical but unmaterialized frame") {
    // distinct with u != v in both directions: canonical, but not checkpointed
    val base = spark.range(0, 40).select((col("id") % 7 * 2).as("u"), (col("id") % 5 * 2 + 1).as("v"))
    val canonical = base.unionByName(base.select(col("v").as("u"), col("u").as("v"))).distinct()
    val msg = intercept[IllegalArgumentException](
      GraphOps.lubyMis(canonical, maxRounds = 8, assumeCanonical = true)).getMessage
    assert(msg.contains("lubyMis edges") && msg.contains("Deduplicate"), msg)
    // the same frame, checkpointed, is accepted
    assert(GraphOps.lubyMis(canonical.localCheckpoint(), maxRounds = 8,
      assumeCanonical = true).count() > 0)
  }
}

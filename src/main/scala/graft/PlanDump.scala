package graft

import java.nio.file.{Files, Paths}

/** Optimization-round evidence: dump `.explain("formatted")` of one
  * or more queries to files — `plans/<round>/<query>_{before,after}.txt`.
  *
  * Usage: runMain graft.PlanDump <round> <suffix> <query> [query ...]
  *   writes plans/<round>/<query>_<suffix>.txt for each query on
  *   SPARK_GRAFT_SF_DIR (default sf0.1, the bench scale — the plans the
  *   optimization claims are about).
  */
object PlanDump {
  def main(args: Array[String]): Unit = {
    require(args.length >= 3, "usage: PlanDump <round> <suffix> <query> [query ...]")
    val round = args(0)
    val suffix = args(1)
    val dir = Sessions.sfDir
    val spark = Sessions.fromEnv()
    Files.createDirectories(Paths.get(s"plans/$round"))
    args.drop(2).foreach { name =>
      val fn = SparkEntry.queries.getOrElse(name,
        throw new IllegalArgumentException(s"unknown query $name"))
      val plan = fn(spark, dir).queryExecution.explainString(
        org.apache.spark.sql.execution.FormattedMode)
      Files.writeString(Paths.get(s"plans/$round/${name}_$suffix.txt"), plan)
      println(s"[plandump] wrote plans/$round/${name}_$suffix.txt")
    }
    spark.stop()
  }
}

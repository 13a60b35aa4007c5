package graft

import org.apache.spark.sql.functions._

import graft.operators.GraphOps

/** PLANS.md's iterative sections come from [[Explain.capturePlans]]:
  * the plans a query's actions really executed, grouped by shape. A
  * loop step must show up as one shape run once per round.
  */
class ExplainCaptureSpec extends SparkSuite {

  test("capturePlans shows bfsHops' per-round steps with their run counts") {
    val shapes = Explain.capturePlans(spark) { s =>
      import s.implicits._
      // a 12-node path, both directions: every round reaches one node
      val path = s.range(0, 11).select(col("id").as("u"), (col("id") + 1).as("v"))
      val edges = path.unionByName(path.select(col("v").as("u"), col("u").as("v")))
      GraphOps.bfsHops(edges, Seq(0L).toDF("node"), rounds = 3)
    }
    val report = shapes.map(p => s"${p.runs}x ${p.action}\n${p.plan}").mkString("\n")
    // the visited-set update: one shape, run once per round
    assert(shapes.exists(p => p.runs == 3 && p.action == "localCheckpoint" &&
      p.plan.contains("Union") && !p.plan.contains("Join")), report)
    // the frontier expansion ran every round; round 1 may plan apart
    // from rounds 2-3, because its frontier is the visited set itself
    val expansion = shapes.filter(_.plan.contains("LeftAnti"))
    assert(expansion.forall(_.action == "localCheckpoint") &&
      expansion.map(_.runs).sum == 3, report)
    // the final noop write ran once, after the loop
    assert(shapes.last.runs == 1, report)
  }
}

package graft

import org.apache.spark.sql.execution.FormattedMode
import org.apache.spark.sql.functions._

import graft.operators.GraphOps

/** PLANS.md prints every plan through [[Explain.stable]], and its
  * iterative sections come from [[Explain.capturePlans]]: the initial
  * plans of the actions a query really ran, grouped by shape. A loop
  * step must show up as one shape run once per round.
  */
class ExplainCaptureSpec extends SparkSuite {

  private lazy val bfsShapes = Explain.capturePlans(spark) { s =>
    import s.implicits._
    // a 12-node path, both directions: every round reaches one node
    val path = s.range(0, 11).select(col("id").as("u"), (col("id") + 1).as("v"))
    val edges = path.unionByName(path.select(col("v").as("u"), col("u").as("v")))
    GraphOps.bfsHops(edges, Seq(0L).toDF("node"), rounds = 3)
  }

  private def report(shapes: Seq[Explain.PlanShape]): String =
    shapes.map(p => s"${p.runs}x ${p.action}\n${p.plan}").mkString("\n")

  test("capturePlans shows bfsHops' per-round steps with their run counts") {
    val shapes = bfsShapes
    val report = this.report(shapes)
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

  test("capturePlans records every adaptive plan as first planned, not as it finished") {
    // a final adaptive plan depends on which query stage finished
    // first, so two captures of one tree could differ
    val adaptive = bfsShapes.filter(_.plan.contains("AdaptiveSparkPlan"))
    assert(adaptive.nonEmpty && adaptive.forall(p =>
      p.plan.contains("isFinalPlan=false") && !p.plan.contains("isFinalPlan=true")),
      report(bfsShapes))
  }

  test("stable: one query planned twice prints two raw plans and one normalized plan") {
    def plan() = spark.range(0, 100).select((col("id") % 7).as("k"), col("id"))
      .groupBy("k").agg(sum("id").as("s"))
      .queryExecution.explainString(FormattedMode)
    val (first, second) = (plan(), plan())
    assert(first != second, "each planning takes fresh expression ids")
    assert(Explain.stable(first) == Explain.stable(second), Explain.stable(first))
    assert(Explain.stable("a#17L, b#9, a#17L, [plan_id=40], RDD[8] plans_bucketing123/x") ==
      "a#1L, b#2, a#1L, [plan_id=1], RDD[1] plans_bucketing/x")
    val pid = ProcessHandle.current().pid()
    assert(Explain.stable(s"/tmp/graft_lsh_${pid}/s, KmvSketch@6e29ff71, " +
      "M$$$Lambda$6219/0x00007f405960e490@4d40c056") ==
      "/tmp/graft_lsh_<pid>/s, KmvSketch@<hash>, M$$$Lambda@<hash>")
    assert(Explain.stable("localCheckpoint at KnnGraph.scala:45") ==
      "localCheckpoint at KnnGraph.scala")
  }
}

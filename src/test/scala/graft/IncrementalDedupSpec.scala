package graft

import org.apache.spark.sql.functions._

import graft.operators.{IncrementalDedup, Profiler}

class IncrementalDedupSpec extends SparkSuite {
  import spark.implicits._

  private val dir = "/root/testdata/sf0.001"

  test("newDocuments: exactly the unseen rows survive (fp-verified)") {
    val docs = Tables.documents(spark, dir).select($"doc_id", $"text")
    val existing = docs.filter($"doc_id" < 300)
    // tiny bloom + high fpp to force false positives through the
    // exact-verification join
    val out = IncrementalDedup.newDocuments(existing, docs, "text",
      expectedItems = 50, fpp = 0.5)
      .select($"doc_id").as[Long].collect().toSet
    assert(out == (300L until 500L).toSet)
  }

  test("newDocuments: reformatted copies of existing docs are dropped") {
    val docs = Tables.documents(spark, dir).select($"doc_id", $"text")
    val existing = docs.filter($"doc_id" < 100)
    val fresh = docs.filter($"doc_id" < 100)
      .select(($"doc_id" + 9000).as("doc_id"),
        upper(concat(lit("  "), $"text", lit("   "))).as("text"))
    // uppercase+padding normalizes away except trim... normalization is
    // lower + whitespace-collapse (no trim), so add internal-run copies
    val fresh2 = docs.filter($"doc_id" < 100)
      .select(($"doc_id" + 9000).as("doc_id"),
        upper(regexp_replace($"text", " ", "  ")).as("text"))
    val out = IncrementalDedup.newDocuments(existing, fresh2, "text")
      .count()
    assert(out == 0, "case/whitespace-variant copies must be recognized")
  }

  test("profiler: one-pass long-format stats") {
    val p = Profiler.profile(Tables.nation(spark, dir)).collect()
    assert(p.length == 3)
    val byCol = p.map(r => r.getString(0) -> r).toMap
    assert(byCol("n_nationkey").getLong(1) == 25)
    assert(byCol("n_nationkey").getLong(3) == 25)
    assert(byCol("n_regionkey").getLong(3) == 5)
    assert(byCol("n_nationkey").getLong(2) == 0)
  }
}

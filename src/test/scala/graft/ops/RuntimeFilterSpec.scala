package graft.ops

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.TestSpark

class RuntimeFilterSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  private lazy val fact = (1L to 1000L).map(i => (i, s"row$i")).toDF("k", "payload")
  private lazy val keys = Seq(3L, 500L, 997L).toDF("k")

  test("bloomSemiJoin is row-identical to the plain left-semi join") {
    val got = RuntimeFilter.bloomSemiJoin(fact, keys, "k")
      .collect().map(r => (r.getLong(0), r.getString(1))).toSet
    val want = fact.join(keys, Seq("k"), "left_semi")
      .collect().map(r => (r.getLong(0), r.getString(1))).toSet
    assert(want === Set((3L, "row3"), (500L, "row500"), (997L, "row997")))
    assert(got === want)
  }

  test("the prefilter keeps every true match (false positives allowed, misses not)") {
    val bloom = RuntimeFilter.buildBloom(keys, col("k"))
    val pruned = RuntimeFilter.bloomPrune(fact, col("k"), bloom)
      .select("k").collect().map(_.getLong(0)).toSet
    assert(Set(3L, 500L, 997L).subsetOf(pruned))
    // At 2^20 bits for 3 keys the false-positive tail is ~zero; the
    // prune must actually PRUNE, not pass everything through.
    assert(pruned.size < 1000, "bloom pruned nothing")
  }

  test("empty key set yields an empty semi join, schema intact") {
    val got = RuntimeFilter.bloomSemiJoin(fact, keys.filter(lit(false)), "k")
    assert(got.columns.toSeq === fact.columns.toSeq)
    assert(got.count() === 0)
  }

  test("the might_contain prune sits under the exact join in the plan") {
    // Parquet-backed fact: over a LocalRelation the optimizer
    // (ConvertToLocalRelation) evaluates the prune eagerly and it
    // never reaches the physical plan — a file scan is the real shape.
    val dir = java.nio.file.Files.createTempDirectory("bloom_plan").toString
    fact.write.mode("overwrite").parquet(s"$dir/fact")
    val factPq = spark.read.parquet(s"$dir/fact")
    val plan = RuntimeFilter.bloomSemiJoin(factPq, keys, "k")
      .queryExecution.executedPlan.toString
    assert(plan.contains("might_contain"), s"no bloom prune in plan:\n$plan")
    val pruneLine = plan.linesIterator.indexWhere(_.contains("might_contain"))
    val joinLine = plan.linesIterator.indexWhere(_.contains("Join"))
    assert(joinLine >= 0 && pruneLine > joinLine,
      "prune should be a child (printed below) of the join")
  }
}

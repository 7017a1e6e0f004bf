package graft.ops

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.TestSpark

class AnonymizeSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  // QI = (region, age_band); sensitive = diagnosis. Group (N,1): 3
  // members, 3 distinct values; (N,2): 2 members, 1 value; (S,1): 1
  // member.
  private val rows = Seq(
    (1L, "N", 1, "flu"), (2L, "N", 1, "cold"), (3L, "N", 1, "ok"),
    (4L, "N", 2, "flu"), (5L, "N", 2, "flu"),
    (6L, "S", 1, "rare"))
    .toDF("id", "region", "age_band", "diagnosis")

  test("profile: group sizes, sensitive diversity, and release flags") {
    val got = Anonymize.profile(rows,
        qi = Seq(col("region"), col("age_band")),
        sensitive = col("diagnosis"), k = 2, l = 2)
      .collect().map(r => ((r.getString(0), r.getInt(1)),
        (r.getLong(2), r.getLong(3), r.getInt(4), r.getInt(5)))).toMap
    assert(got(("N", 1)) === ((3L, 3L, 1, 1)))
    assert(got(("N", 2)) === ((2L, 1L, 1, 0))) // k-anonymous, NOT l-diverse
    assert(got(("S", 1)) === ((1L, 1L, 0, 0))) // singleton: both fail
  }
}

package graft.ops

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.TestSpark

class SkewSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  private val fact = Seq(
    (1L, "hot", 10.0), (2L, "hot", 20.0), (3L, "hot", 30.0),
    (4L, "cold", 40.0), (5L, "missing", 50.0))
    .toDF("id", "k", "v")
  private val dim = Seq(("hot", "H"), ("cold", "C"), ("unused", "U"))
    .toDF("k", "label")

  test("salted inner join equals the plain join row-for-row") {
    val plain = fact.join(dim, Seq("k"), "inner")
      .select("id", "k", "v", "label").collect().toSet
    val salted = Skew.saltedJoin(fact, dim, "k", col("id"), salts = 4)
      .select("id", "k", "v", "label").collect().toSet
    assert(salted === plain)
  }

  test("salted left join preserves unmatched fact rows exactly once") {
    val out = Skew.saltedJoin(fact, dim, "k", col("id"), salts = 4, joinType = "left")
      .select("id", "label").collect().map(r => (r.getLong(0), r.getString(1))).toSet
    assert(out === Set((1L, "H"), (2L, "H"), (3L, "H"), (4L, "C"), (5L, null)))
  }

  test("salting is deterministic across evaluations (retry/replay safety)") {
    val a = Skew.saltedJoin(fact, dim, "k", col("id"), salts = 8).collect().toSet
    val b = Skew.saltedJoin(fact, dim, "k", col("id"), salts = 8).collect().toSet
    assert(a === b)
  }

  test("boundedBucketSelfJoin: identical pair set to the plain join on a hot bucket") {
    // One deliberately hot bucket (60 rows ≫ cap 10) plus two normal
    // ones — pair sets must match the uncapped self join exactly.
    val rows = ((1L to 60L).map(i => (i, "hot")) ++
      Seq((101L, "small"), (102L, "small"), (103L, "small"), (201L, "solo")))
      .toDF("id", "bucket")
    val plain = rows.as("a").join(rows.as("b"),
        col("a.bucket") === col("b.bucket") && col("a.id") < col("b.id"))
      .select(col("a.id"), col("b.id"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val capped = Skew.boundedBucketSelfJoin(rows, "bucket", "id", cap = 10)
      .select(col("id"), col("id_2"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(capped === plain)
    assert(plain.size === 60 * 59 / 2 + 3) // sanity: blowup actually present
  }

  test("boundedBucketSelfJoin: sampled hot detection still splits and never changes pairs") {
    // 4000-row hot bucket, cap 100, detection sampled 1-in-16: the
    // expected sample is 250 rows → scaled count ≈ 4000 ≫ cap, so the
    // split must still engage; and whatever the detection decided, the
    // pair set must equal the plain join's (splitting is performance
    // policy, never semantics). Pair-count identity is checked instead
    // of materializing 8M pair tuples.
    val rows = ((1L to 4000L).map(i => (i, "hot")) ++
      Seq((9001L, "small"), (9002L, "small"))).toDF("id", "bucket")
    val sampled = Skew.boundedBucketSelfJoin(rows, "bucket", "id",
      cap = 100, detectOneIn = 16)
    assert(sampled.count() === 4000L * 3999 / 2 + 1)
    // The hot bucket was actually detected through the sample: the
    // operator's own sampled aggregate must flag it.
    val flagged = rows
      .filter(pmod(xxhash64(col("bucket"), col("id")), lit(16)) === 0)
      .groupBy("bucket").count()
      .filter(col("count") * 16 > 100)
      .collect().map(_.getString(0)).toSet
    assert(flagged === Set("hot"))
  }

  test("boundedBucketSelfJoin: per-task pair work is bounded, not quadratic") {
    // Reconstruct each pair's task cell (sub-group of each side) the
    // way the operator assigns it and assert no cell carries more than
    // ~cap² pairs — the property that kills the straggler. 60 rows at
    // cap 10 → s = 6 sub-groups; uncapped the single cell would hold
    // all 1770 pairs.
    val cap = 10
    val n = 60L
    val rows = (1L to n).map(i => (i, "hot")).toDF("id", "bucket")
    val subs = math.ceil(n.toDouble / cap).toInt
    val groupOf = rows
      .select(col("id"), pmod(xxhash64(col("id")), lit(subs)).cast("int").as("g"))
      .collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
    val cells = Skew.boundedBucketSelfJoin(rows, "bucket", "id", cap)
      .select(col("id"), col("id_2"))
      .collect()
      .groupBy(r => (groupOf(r.getLong(0)), groupOf(r.getLong(1))))
      .map(_._2.length)
    assert(cells.size > 1, "bucket was not split into multiple task cells")
    // Hash imbalance slack: 4× the ideal cap² cell.
    assert(cells.max <= 4 * cap * cap,
      s"hottest task cell carries ${cells.max} pairs")
  }

  /** A skewed fixture for the selective salt: one boilerplate key
    * carrying most rows, a long tail of singletons, a dim-only key. */
  private def hotFixture = {
    val f = ((1L to 600L).map(i => (i, "boiler", i * 2)) ++
      (601L to 700L).map(i => (i, s"tail${i % 37}", i * 2)))
      .toDF("id", "k", "v")
    val d = (Seq("boiler") ++ (0 until 37).map(i => s"tail$i") ++ Seq("dimonly"))
      .map(k => (k, s"lbl_$k")).toDF("k", "label")
    (f, d)
  }

  test("saltedJoinHot: inner join equals the plain join row-for-row") {
    val (f, d) = hotFixture
    val plain = f.join(d, Seq("k"), "inner")
      .select("id", "k", "v", "label").collect().toSet
    val salted = Skew.saltedJoinHot(f, d, "k", col("id"), salts = 8, hotCap = 50)
      .select("id", "k", "v", "label").collect().toSet
    assert(salted === plain)
  }

  test("saltedJoinGivenHot: left join keeps unmatched fact rows exactly once") {
    val (f, d) = hotFixture
    val extra = f.union(Seq((999L, "nomatch", 0L)).toDF("id", "k", "v"))
    val hot = Seq("boiler").toDF("k")
    val out = Skew.saltedJoinGivenHot(extra, d, "k", col("id"), salts = 8,
        hotKeys = hot, joinType = "left")
      .select("id", "k", "v", "label").collect()
    assert(out.count(_.getLong(0) == 999L) === 1)
    assert(out.length === extra.count().toInt)
  }

  test("saltedJoinHot: only the hot key's rows spread beyond salt 0") {
    val (f, d) = hotFixture
    // Re-derive the routing exactly as the implementation does: hot
    // keys hash-spread across salts, cold keys all land on salt 0 —
    // the property that makes the selective salt ≈ plain-join cost.
    val salted = f.withColumn("__salt",
      when(col("k") === "boiler", pmod(xxhash64(col("id")), lit(8)))
        .otherwise(lit(0L)))
    val spread = salted.filter(col("k") === "boiler")
      .select("__salt").distinct().count()
    assert(spread > 4, s"hot key spread across only $spread salts")
    val joined = Skew.saltedJoinHot(f, d, "k", col("id"), salts = 8, hotCap = 50)
    assert(joined.count() === f.join(d, Seq("k"), "inner").count())
  }
}

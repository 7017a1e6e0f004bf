package graft.ops

import java.sql.Timestamp
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.TestSpark

class TemporalSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  private def ts(s: String) = Timestamp.valueOf(s)
  private val dim = Seq(
    ("T1", "v1", ts("2024-01-01 00:00:00"), ts("2024-01-15 00:00:00"), "N"),
    ("T1", "v2", ts("2024-01-15 00:00:00"), ts("9999-12-31 00:00:00"), "N"),
    ("T2", "dead", ts("2024-01-01 00:00:00"), ts("9999-12-31 00:00:00"), "Y"))
    .toDF("terminal_id", "v", "effective_from", "effective_to", "deleted_flg")

  private def lookup(factTs: String, key: String = "T1"): Seq[String] = {
    val fact = Seq((key, ts(factTs))).toDF("terminal", "trans_date")
    Temporal.asOfJoin(fact, dim, fact("terminal"), dim("terminal_id"),
        fact("trans_date"))
      .select("v").collect().toSeq.map(r => Option(r.getString(0)).orNull)
  }

  test("strict bounds: boundary instants match NO version (reference parity)") {
    // At exactly the v1→v2 boundary, strict > and < exclude both
    // versions — the modeled system's observable (odd) semantics.
    assert(lookup("2024-01-15 00:00:00") === Seq(null))
    assert(lookup("2024-01-14 23:59:59") === Seq("v1"))
    assert(lookup("2024-01-15 00:00:01") === Seq("v2"))
  }

  test("liveOnly excludes 'Y' versions; left join preserves the fact row") {
    // T2's only version is deleted: the fact row survives unmatched.
    assert(lookup("2024-01-10 00:00:00", key = "T2") === Seq(null))
  }

  // --- rangeJoin: the bucketed pure-range (no equi key) join ---

  private val rjPoints = Seq(
    (1L, 0L), (2L, 3L), (3L, 7L), (4L, 10L), (5L, 19L), (6L, 20L),
    (7L, 25L), (8L, -5L), (9L, 40L))
    .toDF("pid", "p")
  private val rjIntervals = Seq(
    (10L, 0L, 8L),    // spans buckets 0..1 (width 4)
    (11L, 3L, 21L),   // spans buckets 0..5, overlaps interval 10
    (12L, 20L, 20L),  // empty (end == start): matches nothing
    (13L, 24L, 23L),  // inverted: matches nothing, must not explode
    (14L, -7L, -3L))  // negative space: floor division, not truncation
    .toDF("iid", "s", "e")

  private def rjPairs(width: Long): Set[(Long, Long)] =
    Temporal.rangeJoin(rjPoints, rjIntervals,
        point = col("p"), start = col("s"), end = col("e"), bucketWidth = width)
      .select("pid", "iid").collect().map(r => (r.getLong(0), r.getLong(1))).toSet

  test("rangeJoin matches the naive cross-filter exactly, at several widths") {
    val expected = rjPoints.crossJoin(rjIntervals)
      .filter(col("p") >= col("s") && col("p") < col("e"))
      .select("pid", "iid").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    // Half-open semantics visible in the expectation: p=7 in [0,8) and
    // [3,21); p=20 in [3,21) but NOT in the empty [20,20) (end is
    // exclusive); p=-5 in [-7,-3) via negative-space floor buckets.
    assert(expected === Set((1L, 10L), (2L, 10L), (2L, 11L), (3L, 10L),
      (3L, 11L), (4L, 11L), (5L, 11L), (6L, 11L), (8L, 14L)))
    for (width <- Seq(1L, 3L, 4L, 7L, 100L))
      assert(rjPairs(width) === expected, s"width $width diverged")
  }

  test("rangeJoin surfaces each match exactly once (multi-bucket intervals do not duplicate)") {
    // Interval 11 spans 6 buckets at width 4; each matching point must
    // still produce ONE row — the point owns a single bucket.
    val rows = Temporal.rangeJoin(rjPoints, rjIntervals,
        point = col("p"), start = col("s"), end = col("e"), bucketWidth = 4L)
      .select("pid", "iid").collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    assert(rows.size === rows.toSet.size)
  }

  test("rangeJoin plans as an equi join on the bucket id, never a nested loop") {
    val plan = Temporal.rangeJoin(rjPoints, rjIntervals,
        point = col("p"), start = col("s"), end = col("e"), bucketWidth = 4L)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("NestedLoop") && !plan.contains("Cartesian"),
      s"range join fell back to a quadratic plan:\n$plan")
  }

  test("rangeJoin rejects a non-positive bucket width") {
    intercept[IllegalArgumentException] {
      Temporal.rangeJoin(rjPoints, rjIntervals,
        point = col("p"), start = col("s"), end = col("e"), bucketWidth = 0L)
    }
  }

  // --- intervalOverlapJoin: bucket-ownership dedup-free overlap ---

  test("intervalOverlapJoin matches the naive cross-filter, each pair exactly once") {
    val a = Seq((1L, 0L, 10L), (2L, 5L, 6L), (3L, 20L, 40L), (4L, 7L, 7L))
      .toDF("aid", "as", "ae")
    val b = Seq((10L, 8L, 25L), (11L, 0L, 3L), (12L, 39L, 60L), (13L, 50L, 45L))
      .toDF("bid", "bs", "be")
    val expected = a.crossJoin(b)
      .filter(col("as") < col("be") && col("bs") < col("ae"))
      .select("aid", "bid").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    // Sanity on half-open semantics: (1,10) overlap [0,10)x[8,25);
    // (3,10) and (3,12); (1,11); empty interval 4 and inverted 13
    // match nothing.
    assert(expected === Set((1L, 10L), (1L, 11L), (3L, 10L), (3L, 12L)))
    for (width <- Seq(1L, 4L, 7L, 100L)) {
      val rows = Temporal.intervalOverlapJoin(a, b,
          col("as"), col("ae"), col("bs"), col("be"), bucketWidth = width)
        .select("aid", "bid").collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
      assert(rows.toSet === expected, s"width $width diverged")
      assert(rows.size === rows.toSet.size,
        s"width $width duplicated pairs despite bucket ownership")
    }
  }

  // --- asofBackward: the union+window merge_asof ---

  private val abLeft = Seq(
    (100L, "u1", ts("2024-01-10 00:00:00")),
    (101L, "u1", ts("2024-01-20 00:00:00")),
    (102L, "u2", ts("2024-01-05 00:00:00")), // before any right row
    (103L, "u3", ts("2024-01-05 00:00:00"))) // key with no right rows
    .toDF("lid", "k", "lts")
  private val abRight = Seq(
    (1L, "u1", ts("2024-01-08 00:00:00")),
    (2L, "u1", ts("2024-01-10 00:00:00")), // equal ts: <= must match
    (3L, "u1", ts("2024-01-10 00:00:00")), // equal ts tie: larger id wins
    (4L, "u1", ts("2024-01-15 00:00:00")),
    (5L, "u2", ts("2024-01-09 00:00:00")))
    .toDF("rid", "k", "rts")

  private def abRun() =
    Temporal.asofBackward(abLeft, abRight, key = "k",
        leftTs = "lts", rightTs = "rts", rightId = "rid")
      .collect().map(r => r.getLong(0) ->
        (Option(r.getTimestamp(3)).map(_.toString).orNull,
          if (r.isNullAt(4)) -1L else r.getLong(4))).toMap

  test("asofBackward: latest right at-or-before, inclusive ties, max-id tie-break") {
    val got = abRun()
    assert(got(100L) === (("2024-01-10 00:00:00.0", 3L))) // equal ts matches; rid 3 > 2
    assert(got(101L) === (("2024-01-15 00:00:00.0", 4L)))
    assert(got(102L) === ((null, -1L))) // no right row precedes
    assert(got(103L) === ((null, -1L))) // key absent from right side
  }

  test("asofForward: earliest right at-or-after, inclusive ties, min-id tie-break") {
    val got = Temporal.asofForward(abLeft, abRight, key = "k",
        leftTs = "lts", rightTs = "rts", rightId = "rid")
      .collect().map(r => r.getLong(0) ->
        (Option(r.getTimestamp(3)).map(_.toString).orNull,
          if (r.isNullAt(4)) -1L else r.getLong(4))).toMap
    assert(got(100L) === (("2024-01-10 00:00:00.0", 2L))) // equal ts; rid 2 < 3 wins
    assert(got(101L) === ((null, -1L))) // nothing at-or-after 01-20
    assert(got(102L) === (("2024-01-09 00:00:00.0", 5L)))
    assert(got(103L) === ((null, -1L)))
  }

  test("asofBackward plans one window over the union — no join anywhere") {
    val plan = Temporal.asofBackward(abLeft, abRight, key = "k",
        leftTs = "lts", rightTs = "rts", rightId = "rid")
      .queryExecution.executedPlan.toString
    assert(!plan.contains("Join"), s"asof fell back to a join:\n$plan")
    val windows = plan.linesIterator.count(l => l.trim.startsWith("Window ") ||
      l.trim.matches("^[+:\\-\\s]*Window \\[.*"))
    assert(windows === 1, s"expected 1 Window exec, got $windows:\n$plan")
  }
}

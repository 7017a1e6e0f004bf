package graft.ops

import java.sql.Timestamp
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.TestSpark

/** SCD2 merge unit matrix (SURVEY.md §5.2): one batch exercising every
  * row fate — new, changed, deleted, unchanged, reappearing — against a
  * hand-built dimension, asserting the exact post-merge snapshot. */
class Scd2Spec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  private val INF = Timestamp.valueOf("9999-12-31 00:00:00")
  private def ts(s: String) = Timestamp.valueOf(s)
  private val t0 = ts("2024-01-01 00:00:00")
  private val t1 = ts("2024-02-01 00:00:00")
  private val t1Close = ts("2024-01-31 23:59:59") // t1 - 1s

  /** dim: key k, tracked attr a, effective_from/to, deleted_flg. */
  private def dim(rows: (String, String, Timestamp, Timestamp, String)*): DataFrame =
    rows.toDF("k", "a", "effective_from", "effective_to", "deleted_flg")

  private def batch(rows: (String, String)*): DataFrame = rows.toDF("k", "a")

  private def snapshot(df: DataFrame): Set[(String, String, Timestamp, Timestamp, String)] =
    df.collect().map(r => (r.getString(0), r.getString(1),
      r.getTimestamp(2), r.getTimestamp(3), r.getString(4))).toSet

  test("five-fate matrix: new / changed / deleted / unchanged / reappearing") {
    val d = dim(
      ("changed",    "old", t0, INF, "N"),
      ("deleted",    "v",   t0, INF, "N"),
      ("unchanged",  "same", t0, INF, "N"),
      ("reappearing", "gone", t0, INF, "Y"))
    val b = batch(
      ("new", "v1"),
      ("changed", "new"),
      ("unchanged", "same"),
      ("reappearing", "back"))
    val dk = Seq("new", "changed", "unchanged", "reappearing").toDF("k")

    val out = snapshot(Scd2.merge(d, b, Seq("k"), Seq("a"), lit(t1),
      deleteKeys = Some(dk)))

    assert(out === Set(
      ("new",         "v1",   t1, INF,     "N"), // first version
      ("changed",     "old",  t0, t1Close, "N"), // closed 1s before
      ("changed",     "new",  t1, INF,     "N"), // replacement opens
      ("deleted",     "v",    t0, t1Close, "N"), // closed by delete
      ("deleted",     "v",    t1, INF,     "Y"), // marker keeps attrs
      ("unchanged",   "same", t0, INF,     "N"), // untouched
      ("reappearing", "gone", t0, t1Close, "Y"), // 'Y' marker closed
      ("reappearing", "back", t1, INF,     "N"))) // fresh 'N' version
  }

  test("no delete snapshot provided: absent keys stay open") {
    val d = dim(("a", "v", t0, INF, "N"))
    val out = snapshot(Scd2.merge(d, batch(("b", "w")), Seq("k"), Seq("a"), lit(t1)))
    assert(out === Set(
      ("a", "v", t0, INF, "N"),
      ("b", "w", t1, INF, "N")))
  }

  test("null-safe change detection: null -> value and value -> null both open versions") {
    val d = dim(("x", null, t0, INF, "N"), ("y", "v", t0, INF, "N"))
    val out = snapshot(Scd2.merge(d, batch(("x", "v"), ("y", null)),
      Seq("k"), Seq("a"), lit(t1)))
    assert(out === Set(
      ("x", null, t0, t1Close, "N"), ("x", "v", t1, INF, "N"),
      ("y", "v", t0, t1Close, "N"), ("y", null, t1, INF, "N")))
  }

  test("replaying the identical batch is a no-op (idempotence)") {
    val d = dim(("a", "v", t0, INF, "N"))
    val b = batch(("a", "v2"), ("b", "w"))
    val dk = Seq("a", "b").toDF("k")
    val once = Scd2.merge(d, b, Seq("k"), Seq("a"), lit(t1), Some(dk))
    val twice = Scd2.merge(once, b, Seq("k"), Seq("a"), lit(t1), Some(dk))
    assert(snapshot(once) === snapshot(twice))
  }

  test("composite natural keys: fate decided per (k1,k2) pair") {
    val d = Seq(
      ("a", 1, "v", t0, INF, "N"),
      ("a", 2, "v", t0, INF, "N"))
      .toDF("k1", "k2", "a", "effective_from", "effective_to", "deleted_flg")
    val b = Seq(("a", 1, "v2"), ("b", 1, "w")).toDF("k1", "k2", "a")
    val dk = Seq(("a", 1), ("b", 1)).toDF("k1", "k2")
    val out = Scd2.merge(d, b, Seq("k1", "k2"), Seq("a"), lit(t1), Some(dk))
      .collect().map(r => (r.getString(0), r.getInt(1), r.getString(2),
        r.getTimestamp(4), r.getString(5))).toSet
    assert(out === Set(
      ("a", 1, "v", t1Close, "N"), ("a", 1, "v2", INF, "N"), // changed
      ("a", 2, "v", t1Close, "N"), ("a", 2, "v", INF, "Y"), // deleted
      ("b", 1, "w", INF, "N"))) // new
  }

  test("fromChangeLog: consecutive duplicates collapse, versions tile the timeline") {
    val log = Seq(
      ("k1", "a", ts("2024-01-01 00:00:00"), 1L),
      ("k1", "a", ts("2024-01-02 00:00:00"), 2L), // no change → collapsed
      ("k1", "b", ts("2024-01-03 00:00:00"), 3L),
      ("k1", "a", ts("2024-01-05 00:00:00"), 4L), // back to a → new version
      ("k2", "x", ts("2024-01-04 00:00:00"), 5L))
      .toDF("k", "a", "ts", "seq")
    val out = Scd2.fromChangeLog(log, Seq("k"), Seq("a"), "ts", col("seq"))
      .collect().map(r => (r.getString(0), r.getString(1),
        r.getTimestamp(2), r.getTimestamp(3))).toSet
    assert(out === Set(
      ("k1", "a", ts("2024-01-01 00:00:00"), ts("2024-01-02 23:59:59")),
      ("k1", "b", ts("2024-01-03 00:00:00"), ts("2024-01-04 23:59:59")),
      ("k1", "a", ts("2024-01-05 00:00:00"), INF),
      ("k2", "x", ts("2024-01-04 00:00:00"), INF)))
  }

  test("separate deleteTs clock (terminals file-date vs cards now() split)") {
    val t2 = ts("2024-03-01 00:00:00")
    val d = dim(("gone", "v", t0, INF, "N"))
    val out = snapshot(Scd2.merge(d, batch(), Seq("k"), Seq("a"), lit(t1),
      deleteKeys = Some(Seq.empty[String].toDF("k")), deleteTs = Some(lit(t2))))
    assert(out === Set(
      ("gone", "v", t0, ts("2024-02-29 23:59:59"), "N"),
      ("gone", "v", t2, INF, "Y")))
  }
}

package graft.ops

import java.nio.file.Files
import java.sql.Timestamp
import org.scalatest.funsuite.AnyFunSuite
import graft.TestSpark
import graft.io.TableStore

class IncrementalSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  private def ts(s: String) = Timestamp.valueOf(s)
  private def meta(rows: (String, String, Timestamp)*): TableStore = {
    val store = new TableStore(spark, Files.createTempDirectory("graft_meta").toString)
    Incremental.seed(store, rows)
    store
  }

  test("readWatermark returns the stored value") {
    val m = meta(("stg", "transactions", ts("2021-03-03 00:00:00")))
    assert(Incremental.readWatermark(m, "stg", "transactions") === ts("2021-03-03 00:00:00"))
  }

  test("readWatermark falls back to the 1900-01-01 default (transaction.py:31-43)") {
    val m = meta(("stg", "other", ts("2021-01-01 00:00:00")))
    assert(Incremental.readWatermark(m, "stg", "transactions") === ts("1900-01-01 00:00:00"))
  }

  test("advance upserts: absent row inserted, present row updated, others untouched") {
    val m = meta(("stg", "a", ts("2021-01-01 00:00:00")))
    Incremental.advance(m, "stg", "b", ts("2021-02-01 00:00:00"))
    Incremental.advance(m, "stg", "a", ts("2021-03-01 00:00:00"))
    val got = m.read(Incremental.MetaTable).collect()
      .map(r => (r.getString(0), r.getString(1), r.getTimestamp(2))).toSet
    assert(got === Set(
      ("stg", "a", ts("2021-03-01 00:00:00")),
      ("stg", "b", ts("2021-02-01 00:00:00"))))
  }

  test("advance is monotone: an older timestamp never moves the watermark back") {
    val m = meta(("stg", "a", ts("2021-06-01 00:00:00")))
    Incremental.advance(m, "stg", "a", ts("2021-01-01 00:00:00"))
    assert(Incremental.readWatermark(m, "stg", "a") === ts("2021-06-01 00:00:00"))
  }
}

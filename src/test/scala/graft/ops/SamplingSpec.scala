package graft.ops

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.TestSpark

class SamplingSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  private val docs = (1L to 4000L).map { i =>
    (i, if (i % 2 == 0) "en" else if (i % 5 == 0) "zh" else "de")
  }.toDF("doc_id", "lang")

  test("stratified sample is deterministic across evaluations") {
    def run() = Sampling.stratifiedSample(docs, "lang", "doc_id",
      Map("en" -> 0.25, "zh" -> 0.9), defaultRate = 0.5)
      .collect().map(_.getLong(0)).toSet
    assert(run() === run())
  }

  test("per-stratum keep rates land near their targets; rate 0/1 are exact") {
    val sampled = Sampling.stratifiedSample(docs, "lang", "doc_id",
      Map("en" -> 0.25, "zh" -> 1.0, "de" -> 0.0), defaultRate = 0.5)
      .groupBy("lang").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    val en = sampled.getOrElse("en", 0L).toDouble / 2000
    assert(en > 0.18 && en < 0.32, s"en rate $en far from 0.25")
    assert(sampled.getOrElse("zh", 0L) === 400L) // every i%5==0 odd id kept
    assert(!sampled.contains("de")) // rate 0 keeps nothing
  }

  test("unlisted strata fall back to the default rate") {
    val kept = Sampling.stratifiedSample(docs, "lang", "doc_id",
      Map("en" -> 0.0), defaultRate = 1.0)
      .select("lang").distinct().collect().map(_.getString(0)).toSet
    assert(kept === Set("zh", "de"))
  }

  test("resample: integer factors are exact, fractional factors average out") {
    val out = Sampling.resample(docs, "lang", "doc_id",
      Map("en" -> 2.0, "zh" -> 0.0, "de" -> 1.5), defaultFactor = 1.0)
      .groupBy("lang", "doc_id").count()
    val byLang = out.groupBy("lang")
      .agg(count(lit(1)).as("rows"), sum("count").as("copies"))
      .collect().map(r => r.getString(0) -> (r.getLong(1), r.getLong(2))).toMap
    // en: every row exactly 2 copies; zh: gone entirely.
    assert(byLang("en") === ((2000L, 4000L)))
    assert(!byLang.contains("zh"))
    // de (1600 rows at 1.5): every row 1 or 2 copies, mean ≈ 1.5.
    val (deRows, deCopies) = byLang("de")
    assert(deRows === 1600L)
    assert(deCopies > 2200L && deCopies < 2600L, s"de copies $deCopies far from 2400")
    // copy_idx is 1-based and contiguous per row.
    val idxs = Sampling.resample(docs.filter(col("lang") === "en"), "lang",
      "doc_id", Map.empty, defaultFactor = 3.0)
      .groupBy("doc_id").agg(collect_list("copy_idx").as("ix"))
      .collect().map(_.getSeq[Long](1).sorted.toSeq).distinct.toSeq
    assert(idxs === Seq(Seq(1L, 2L, 3L)))
  }

  test("resample is deterministic across evaluations") {
    def run() = Sampling.resample(docs, "lang", "doc_id",
      Map("de" -> 2.5), defaultFactor = 0.5)
      .collect().map(r => (r.getLong(0), r.getLong(2))).toSet
    assert(run() === run())
  }

  test("tokenBudget honors per-stratum caps as hard bounds") {
    val sized = docs.withColumn("n", (col("doc_id") % 7 + 3).cast("bigint"))
    val kept = Sampling.tokenBudget(sized, "lang", "doc_id", col("n"),
      Map("en" -> 500L, "zh" -> 0L), defaultBudget = 1000L)
    val byLang = kept.groupBy("lang").agg(max("cum_tok").as("m"), count(lit(1)).as("n"))
      .collect().map(r => r.getString(0) -> (r.getLong(1), r.getLong(2))).toMap
    // Hard cap: the running total of kept docs never exceeds the budget.
    assert(byLang("en")._1 <= 500L)
    assert(byLang("de")._1 <= 1000L)
    // Budget 0 keeps nothing; both strata keep a strict subset.
    assert(!byLang.contains("zh"))
    assert(byLang("en")._2 < 2000L && byLang("de")._2 < 1600L)
    // Greedy: adding any dropped doc at the selection boundary would
    // overflow — the max cum_tok is within one max-doc-size of the cap.
    assert(byLang("en")._1 > 500L - 10L)
  }

  test("tokenBudget selection is hash-ordered, not id-ordered") {
    val sized = docs.withColumn("n", lit(10L))
    val kept = Sampling.tokenBudget(sized, "lang", "doc_id", col("n"),
      Map.empty, defaultBudget = 300L)
      .filter(col("lang") === "en").collect().map(_.getLong(0)).toSet
    assert(kept.size === 30)
    // A prefix of the natural id order would be ids 2..60 — the hash
    // order must disagree somewhere.
    val prefix = (1L to 4000L).filter(_ % 2 == 0).take(30).toSet
    assert(kept !== prefix)
  }

  test("membership is a pure function of the id (stratum-independent hash)") {
    // The same id sampled under different strata labels keeps or drops
    // identically when the rates agree — the hash ignores the stratum.
    val relabeled = docs.withColumn("lang", lit("xx"))
    val a = Sampling.stratifiedSample(docs, "lang", "doc_id",
      Map.empty, defaultRate = 0.4).collect().map(_.getLong(0)).toSet
    val b = Sampling.stratifiedSample(relabeled, "lang", "doc_id",
      Map.empty, defaultRate = 0.4).collect().map(_.getLong(0)).toSet
    assert(a === b)
  }

  test("mixtureResample: derived weights are exact isqrt-temperature allocations") {
    val sized = docs.withColumn("n", (col("doc_id") % 11 + 2).cast("bigint"))
    val out = Sampling.mixtureResample(sized, "lang", "doc_id", col("n"),
      budget = 10000L)
    val byLang = out.groupBy("lang")
      .agg(first("target_tok").as("t"), first("ppm").as("p"),
        sum("n_tok").as("emitted"))
      .collect().map(r => r.getString(0) -> (r.getLong(1), r.getLong(2), r.getLong(3)))
      .toMap
    // Recompute the whole derivation exactly in Scala.
    def isqrt(x: Long): Long = {
      val s = math.sqrt(x.toDouble).toLong
      if ((s + 1) * (s + 1) <= x) s + 1 else if (s * s > x) s - 1 else s
    }
    val tots = (1L to 4000L).map { i =>
      val lang = if (i % 2 == 0) "en" else if (i % 5 == 0) "zh" else "de"
      lang -> (i % 11 + 2)
    }.groupBy(_._1).view.mapValues(_.map(_._2).sum).toMap
    val wsum = tots.values.map(isqrt).sum
    tots.foreach { case (lang, tot) =>
      val target = 10000L * isqrt(tot) / wsum
      val ppm = target * 1000000L / tot
      assert(byLang(lang)._1 === target, s"$lang target")
      assert(byLang(lang)._2 === ppm, s"$lang ppm")
      // Emitted token mass lands near the stratum's target share
      // (hash-threshold sampling: expectation is exact, ±10 % here).
      val emitted = byLang(lang)._3.toDouble
      assert(emitted > target * 0.8 && emitted < target * 1.2,
        s"$lang emitted $emitted vs target $target")
    }
  }

  test("mixtureResample: isqrt is exact at perfect squares and off-by-one totals") {
    // Strata engineered to hit tot = k², k²−1, k²+1 — the cases where
    // a float sqrt rounds across the integer boundary. Budget large
    // enough that every stratum's ppm ≥ 10⁶ (≥ 1 guaranteed copy per
    // doc), so the rate columns are observable on emitted rows.
    val df = Seq((1L, "a", 10000L), (2L, "b", 9999L), (3L, "c", 10001L))
      .toDF("doc_id", "lang", "n")
    val out = Sampling.mixtureResample(df, "lang", "doc_id", col("n"), budget = 60000L)
      .select("lang", "target_tok").distinct()
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    // weights: isqrt(10000)=100, isqrt(9999)=99, isqrt(10001)=100 → wsum=299
    assert(out("a") === 60000L * 100 / 299)
    assert(out("b") === 60000L * 99 / 299)
    assert(out("c") === 60000L * 100 / 299)
  }

  test("mixtureResample is deterministic across evaluations and partitionings") {
    val sized = docs.withColumn("n", (col("doc_id") % 7 + 1).cast("bigint"))
    def run(d: org.apache.spark.sql.DataFrame) =
      Sampling.mixtureResample(d, "lang", "doc_id", col("n"), budget = 5000L)
        .collect()
        .map(r => (r.getAs[Long]("doc_id"), r.getAs[Long]("copy_idx"))).toSet
    assert(run(sized) === run(sized.repartition(17)))
  }

  test("ppsSample: selection equals the naive per-shard token-interval walk") {
    val sized = docs.withColumn("n", (col("doc_id") % 13).cast("bigint")) // incl. zeros
    val got = Sampling.ppsSample(sized, "doc_id", col("n"), step = 97L)
      .collect().map(r => r.getAs[Long]("doc_id") -> r.getAs[Long]("n_hits")).toMap
    // Naive recomputation: md5-hash order within hash shards.
    def key(i: Long) = {
      val h = java.lang.Long.parseLong(
        java.security.MessageDigest.getInstance("MD5")
          .digest(i.toString.getBytes).map("%02x".format(_)).mkString.take(15), 16)
      h % 1000000L
    }
    val naive = (1L to 4000L).map(i => (i, key(i), i % 13))
      .groupBy(_._2 % Sampling.PpsShards).flatMap { case (_, rows) =>
        var cum = 0L
        rows.sortBy(r => (r._2, r._1)).flatMap { case (id, _, n) =>
          val prev = cum; cum += n
          val hits = math.max(cum - 1, 0) / 97 - math.max(prev - 1, 0) / 97
          if (hits >= 1) Some(id -> hits) else None
        }
      }.toMap
    assert(got === naive)
    // Zero-token docs are never picked; total hits ≈ total tokens / step.
    assert(got.keys.forall(_ % 13 != 0))
    val totTok = (1L to 4000L).map(_ % 13).sum
    assert(math.abs(got.values.sum - totTok / 97) <= Sampling.PpsShards) // ≤1 boundary doc per shard
  }

  test("rankNormalize: two-phase ranks equal the naive per-stratum sort exactly") {
    // Scores engineered with heavy ties and a skewed range so bucket
    // boundaries land inside tie groups.
    val scored = docs.withColumn("sc",
      (col("doc_id") % 17 * col("doc_id") % 1000).cast("bigint"))
    val got = Sampling.rankNormalize(scored, "lang", "doc_id", col("sc"))
      .collect().map(r => r.getAs[Long]("doc_id") ->
        (r.getAs[Long]("rnk"), r.getAs[Long]("pct_ppm"))).toMap
    val naive = (1L to 4000L).map { i =>
      val lang = if (i % 2 == 0) "en" else if (i % 5 == 0) "zh" else "de"
      (i, lang, i % 17 * i % 1000)
    }.groupBy(_._2).flatMap { case (_, rows) =>
      val sorted = rows.sortBy(r => (r._3, r._1))
      val n = sorted.size.toLong
      sorted.zipWithIndex.map { case (r, p) =>
        r._1 -> (p.toLong, p.toLong * 1000000L / math.max(n - 1, 1))
      }
    }
    assert(got === naive.toMap)
  }

  test("rankNormalize: a constant-score stratum collapses to one bucket, still exact") {
    val const = docs.withColumn("sc", lit(7L))
    val out = Sampling.rankNormalize(const, "lang", "doc_id", col("sc"))
      .filter(col("lang") === "zh")
      .collect().map(r => r.getAs[Long]("doc_id") -> r.getAs[Long]("rnk")).toMap
    // 400 zh docs, all score 7: rank order is pure doc_id order.
    val ids = (1L to 4000L).filter(i => i % 2 != 0 && i % 5 == 0).sorted
    assert(out === ids.zipWithIndex.map { case (id, p) => id -> p.toLong }.toMap)
  }

  test("shardAssignment: two-phase positions equal the naive global sort exactly") {
    // The operator's whole claim: 256-bucket offsets + per-bucket
    // ranks reproduce row_number-over-global-order ROW-FOR-ROW, while
    // never planning a single global sort partition.
    val got = Sampling.shardAssignment(docs.select("doc_id"), "doc_id", shardSize = 100L)
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2), r.getLong(3))).toMap
    val naive = (1L to 4000L)
      .sortBy(i => (java.security.MessageDigest.getInstance("MD5")
        .digest(i.toString.getBytes).map("%02x".format(_)).mkString, i))
      .zipWithIndex.map { case (id, p) =>
        id -> (p.toLong, p / 100L, p % 100L)
      }.toMap
    assert(got === naive)
    // Every shard is exactly full except possibly the last.
    val sizes = got.values.groupBy(_._2).view.mapValues(_.size).toMap
    assert(sizes.filter(_._1 < 39).values.forall(_ === 100))
    assert(sizes(39L) === 100)
  }

  test("shardAssignment is deterministic and insensitive to input partitioning") {
    val a = Sampling.shardAssignment(docs.select("doc_id"), "doc_id", 64L)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val b = Sampling.shardAssignment(docs.select("doc_id").repartition(13), "doc_id", 64L)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(a === b)
  }

  test("boundedRowNumber equals the naive sort rank on a mixed asc/desc total order") {
    import spark.implicits._
    val rows = Seq( // ties on n broken by s asc, then id desc
      (5L, "b", 1L), (5L, "a", 2L), (3L, "c", 3L), (5L, "a", 4L),
      (9L, "z", 5L), (3L, "a", 6L))
    val df = rows.toDF("n", "s", "id").repartition(4)
    val got = Sampling.boundedRowNumber(df, "rnk",
        Seq("n" -> false, "s" -> true, "id" -> false))
      .collect().map(r => (r.getLong(2), r.getLong(3))).toMap
    val expected = rows
      .sortBy { case (n, s, id) => (-n, s, -id) }
      .zipWithIndex.map { case ((_, _, id), i) => id -> (i + 1L) }.toMap
    assert(got === expected)
  }
}

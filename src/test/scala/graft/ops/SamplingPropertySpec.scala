package graft.ops

import org.apache.spark.sql.functions._
import org.scalacheck.{Gen, Prop, Test => SCTest}
import org.scalatest.funsuite.AnyFunSuite
import graft.TestSpark

/** ScalaCheck invariants for the round-10 assembly operators, each
  * checked against a from-scratch Scala model over RANDOM corpora
  * (the declared-query oracles pin one corpus; these pin the
  * operator's algebra across many):
  *   (a) rankNormalize == naive per-stratum (score, id) sort,
  *       including adversarial tie mass and constant strata;
  *   (b) ppsSample == the naive per-shard token-interval walk, and
  *       total hits deviate from tokens/step by at most one per shard;
  *   (c) mixtureResample allocations: targets sum ≤ budget, ppm
  *       reproduces target·10⁶/tot exactly, and per-doc copy counts
  *       equal the hash-threshold model;
  *   (d) shardAssignment positions are a bijection 0..n−1.
  */
class SamplingPropertySpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  private def check(p: Prop, n: Int = 12): Unit = {
    val r = SCTest.check(SCTest.Parameters.default
      .withMinSuccessfulTests(n).withWorkers(1), p)
    assert(r.passed, r.status.toString)
  }

  /** Mirrors Functions.portableHash64 reduced mod 10^6 (sampleKey). */
  private def key(i: Long): Long = {
    val h = java.lang.Long.parseLong(
      java.security.MessageDigest.getInstance("MD5")
        .digest(i.toString.getBytes).map("%02x".format(_)).mkString.take(15), 16)
    h % 1000000L
  }

  private def isqrt(x: Long): Long = {
    val s = math.sqrt(x.toDouble).toLong
    if ((s + 1) * (s + 1) <= x) s + 1 else if (s * s > x) s - 1 else s
  }

  /** Random corpus: (id, stratum, weight) with heavy tie probability
    * and occasional zero weights. */
  private val genCorpus: Gen[List[(Long, String, Long)]] = for {
    n <- Gen.choose(1, 300)
    strata <- Gen.choose(1, 4)
    rows <- Gen.listOfN(n, for {
      s <- Gen.choose(0, strata - 1)
      w <- Gen.frequency((3, Gen.choose(0L, 5L)), (1, Gen.choose(0L, 4000L)))
    } yield (s, w))
  } yield rows.zipWithIndex.map { case ((s, w), i) => (i.toLong + 1, s"s$s", w) }

  test("rankNormalize equals the naive per-stratum sort on random corpora") {
    check(Prop.forAll(genCorpus) { rows =>
      val df = rows.toDF("doc_id", "lang", "w")
      val got = Sampling.rankNormalize(df, "lang", "doc_id", col("w"))
        .collect().map(r => r.getAs[Long]("doc_id") ->
          (r.getAs[Long]("rnk"), r.getAs[Long]("pct_ppm"))).toMap
      val naive = rows.groupBy(_._2).flatMap { case (_, rs) =>
        val sorted = rs.sortBy(r => (r._3, r._1))
        val n = sorted.size.toLong
        sorted.zipWithIndex.map { case (r, p) =>
          r._1 -> (p.toLong, p.toLong * 1000000L / math.max(n - 1, 1L))
        }
      }
      got == naive
    })
  }

  test("rankAndCumsum equals the naive per-stratum sort with weight prefix sums") {
    check(Prop.forAll(genCorpus) { rows =>
      // Decouple weight from score (deterministically) so the prefix
      // sum is tested over a different column than the sort key.
      val wrows = rows.map { case (id, s, sc) => (id, s, sc, (id * 31 + sc) % 50) }
      val df = wrows.toDF("doc_id", "lang", "sc", "w")
      val got = Sampling.rankAndCumsum(df, "lang", "doc_id", col("sc"), col("w"))
        .collect().map(r => r.getAs[Long]("doc_id") ->
          (r.getAs[Long]("rnk"), r.getAs[Long]("cw"))).toMap
      val naive = wrows.groupBy(_._2).flatMap { case (_, rs) =>
        val sorted = rs.sortBy(r => (r._3, r._1))
        sorted.zipWithIndex.map { case (r, p) =>
          r._1 -> (p.toLong, sorted.take(p).map(_._4).sum)
        }
      }
      got == naive
    })
  }

  test("waterFillQuota equals the integer water-fill model; budget conserved") {
    val genAvail: Gen[List[(String, Long)]] = for {
      n <- Gen.choose(1, 40)
      av <- Gen.listOfN(n, Gen.frequency(
        (2, Gen.choose(0L, 20L)),          // tiny strata (absorbed)
        (2, Gen.choose(0L, 5000L)),        // mid
        (1, Gen.choose(0L, 2000000L))))    // dominating strata (levelled)
    } yield av.zipWithIndex.map { case (a, i) => (f"s$i%03d", a) }
    check(Prop.forAll(genAvail, Gen.choose(0L, 5L), Gen.choose(1L, 4L)) {
      (rows, num, den) =>
        val got = Sampling.waterFillQuota(
            rows.toDF("src", "avail"), "src", "avail", num, den)
          .collect().map(r => r.getAs[String]("src") ->
            (r.getAs[Long]("avail"), r.getAs[Long]("quota"),
              r.getAs[Int]("fully_kept"))).toMap
        val t = rows.map(_._2).sum
        val bud = t * num / den
        val n = rows.size
        val ord = rows.sortBy(r => (r._2, r._1))
        val cb = ord.map(_._2).scanLeft(0L)(_ + _)
        val ks = (1 to n).filter(k => ord(k - 1)._2 * (n - k + 1) + cb(k - 1) <= bud)
        val p = if (ks.isEmpty) 0 else ks.max
        val pool = bud - cb(p)
        val rem = math.max(n - p, 1)
        val (lvl, rest) = (pool / rem, pool % rem)
        val model = ord.zipWithIndex.map { case ((s, a), i) =>
          val k = i + 1
          s -> (a,
            if (k <= p) a else lvl + (if (k - p <= rest) 1L else 0L),
            if (k <= p) 1 else 0)
        }.toMap
        val conserved = got.values.map(_._2).sum == math.min(bud, t)
        val capped = got.values.forall { case (a, q, _) => q <= a && q >= 0 }
        got == model && conserved && capped
    })
  }

  test("waterFillQuota raises in-plan when Σavail·budgetNum overflows int64") {
    // Per-row preconditions hold (max(avail)·n ≪ 2⁶³) but the budget
    // product Σavail·budgetNum = 2⁴¹·2³⁰ wraps — the parameter
    // aggregate must raise, never silently misallocate.
    val big = Seq(("a", 1L << 40), ("b", 1L << 40)).toDF("src", "avail")
    val ex = intercept[Exception] {
      Sampling.waterFillQuota(big, "src", "avail", 1L << 30, 3L).collect()
    }
    assert(ex.getMessage.contains("overflows int64") ||
      Option(ex.getCause).exists(_.getMessage.contains("overflows int64")))
    // The same magnitudes under a sane budget ratio still succeed.
    val ok = Sampling.waterFillQuota(big, "src", "avail", 1L, 2L)
      .collect().map(r => r.getAs[Long]("quota")).sum
    assert(ok == 1L << 40)
  }

  test("ppsSample equals the naive interval walk; hit mass is tight") {
    check(Prop.forAll(genCorpus, Gen.choose(1L, 500L)) { (rows, step) =>
      val df = rows.toDF("doc_id", "lang", "w")
      val got = Sampling.ppsSample(df, "doc_id", col("w"), step)
        .collect().map(r => r.getAs[Long]("doc_id") -> r.getAs[Long]("n_hits")).toMap
      val naive = rows.map(r => (r._1, key(r._1), r._3))
        .groupBy(_._2 % Sampling.PpsShards).flatMap { case (_, rs) =>
          var cum = 0L
          rs.sortBy(r => (r._2, r._1)).flatMap { case (id, _, w) =>
            val prev = cum; cum += w
            val hits = math.max(cum - 1, 0) / step - math.max(prev - 1, 0) / step
            if (hits >= 1) Some(id -> hits) else None
          }
        }
      val tot = rows.map(_._3).sum
      got == naive.toMap &&
        math.abs(got.values.sum - tot / step) <= Sampling.PpsShards // ≤ 1 residue per shard
    })
  }

  test("mixtureResample allocations and copy counts match the integer model") {
    check(Prop.forAll(genCorpus, Gen.choose(1000L, 500000L)) { (rows, budget) =>
      val df = rows.toDF("doc_id", "lang", "w")
      val out = Sampling.mixtureResample(df, "lang", "doc_id", col("w"), budget)
        .groupBy("lang", "doc_id")
        .agg(first("target_tok").as("t"), first("ppm").as("p"),
          count(lit(1)).as("copies"))
        .collect().map(r => (r.getString(0), r.getLong(1)) ->
          (r.getLong(2), r.getLong(3), r.getLong(4))).toMap
      val tots = rows.groupBy(_._2).view.mapValues(_.map(_._3).sum)
        .filter(_._2 > 0).toMap
      val wsum = tots.values.map(isqrt).sum
      val model = tots.map { case (lang, tot) =>
        val target = budget * isqrt(tot) / wsum
        lang -> (target, target * 1000000L / tot)
      }
      rows.forall { case (id, lang, w) =>
        tots.get(lang) match {
          case None => !out.keys.exists(_._2 == id) // zero-total stratum
          case Some(_) =>
            val (target, ppm) = model(lang)
            val copies = ppm / 1000000L +
              (if (key(id) < ppm % 1000000L) 1L else 0L)
            if (copies == 0) !out.contains((lang, id))
            else out.get((lang, id)).contains((target, ppm, copies))
        }
      } && model.values.map(_._1).sum <= budget
    })
  }

  test("shardAssignment positions are a bijection 0..n-1 on random id sets") {
    check(Prop.forAll(Gen.choose(1, 400).flatMap(n =>
        Gen.pick(n, 1L to 5000L).map(_.toList))) { ids =>
      val pos = Sampling.shardAssignment(ids.toDF("doc_id"), "doc_id", 64L)
        .collect().map(_.getAs[Long]("pos")).sorted
      pos.toSeq == (0L until ids.size.toLong)
    }, n = 8)
  }
}

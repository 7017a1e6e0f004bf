package graft.ops

import org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator
import org.apache.spark.sql.execution.WholeStageCodegenExec
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.TestSpark

/** Pins [[Sketches]] against an independent in-JVM mirror (raw
  * MessageDigest md5 + Long arithmetic — no Spark expressions), so
  * the portable-hash plumbing the oracles rely on (md5 hex slicing,
  * sign bits, rank = leading zeros + 1, the fixed-point harmonic sum)
  * is verified outside the engine, plus the mergeability laws the
  * 100-TB shape depends on (sketch sums add; registers max-merge). */
class SketchSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  private object Plans extends AdaptiveSparkPlanHelper

  private def md5hex(s: String): String =
    java.security.MessageDigest.getInstance("MD5")
      .digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString

  private def h64(s: String): Long =
    java.lang.Long.parseLong(md5hex(s).substring(0, 15), 16)

  private val rnd = new scala.util.Random(37)
  private val types: Seq[(String, Long)] =
    (0 until 220).map(i => s"w${rnd.nextInt(1000)}_$i" -> (1L + rnd.nextInt(50)))

  test("amsSketch ≡ MessageDigest mirror, and sketch sums are additive") {
    val df = types.toDF("w", "n")
    val got = Sketches.amsSketch(df).collect()
      .map(r => r.getInt(0) -> r.getLong(1)).toMap
    val want = (0 until Sketches.AmsEstimators).map { i =>
      i -> types.map { case (w, n) =>
        n * (1L - 2L * (h64(s"ams$i|$w") & 1L)) }.sum
    }.toMap
    assert(got === want)
    // Mergeability: z over a fold of two disjoint halves = z_A + z_B.
    val (a, b) = types.splitAt(110)
    val zA = Sketches.amsSketch(a.toDF("w", "n")).collect()
      .map(r => r.getInt(0) -> r.getLong(1)).toMap
    val zB = Sketches.amsSketch(b.toDF("w", "n")).collect()
      .map(r => r.getInt(0) -> r.getLong(1)).toMap
    assert(want === want.keys.map(i => i -> (zA(i) + zB(i))).toMap)
  }

  test("amsSketch partial-aggregates map-side (252 longs cross the wire)") {
    // The 100-TB claim: sketch sums combine BEFORE the exchange, so
    // each task ships AmsEstimators partial sums, never the exploded
    // (row × estimator) stream.
    val plan = Sketches.amsSketch(types.toDF("w", "n"))
      .queryExecution.executedPlan.toString
    assert(plan.contains("partial_sum"), plan.take(2000))
  }

  test("amsSketch compiles inside whole-stage codegen (no 64 KB method)") {
    // Parquet-backed: over a LocalRelation the optimizer folds the
    // sketch eagerly and no generated stage is left to check. Each
    // fused stage is compiled the way WholeStageCodegenExec does; a
    // failed compile or a method past the huge-method limit means the
    // stage runs interpreted.
    val dir = java.nio.file.Files.createTempDirectory("ams_codegen").toString
    types.toDF("w", "n").write.parquet(s"$dir/types")
    val df = Sketches.amsSketch(spark.read.parquet(s"$dir/types"))
    assert(df.collect().length === Sketches.AmsEstimators)
    val stages = Plans.collect(df.queryExecution.executedPlan) {
      case w: WholeStageCodegenExec => w }
    assert(stages.nonEmpty)
    val limit = spark.sessionState.conf.hugeMethodLimit
    stages.foreach { w =>
      val (_, stats) = CodeGenerator.compile(w.doCodeGen()._2)
      assert(stats.maxMethodCodeSize <= limit,
        s"stage ${w.codegenStageId}: ${stats.maxMethodCodeSize} B > $limit B")
    }
  }

  test("amsF2Estimate is the median of the group means of z²") {
    val df = types.toDF("w", "n")
    val zs = Sketches.amsSketch(df).collect()
      .map(r => r.getInt(0) -> r.getLong(1)).toMap
    val means = (0 until Sketches.AmsGroups).map { g =>
      (0 until Sketches.AmsGroupSize).map(j =>
        { val z = zs(g * Sketches.AmsGroupSize + j); z * z }).sum /
        Sketches.AmsGroupSize
    }
    val want = means.sorted.apply(Sketches.AmsGroups / 2)
    val got = Sketches.amsF2Estimate(Sketches.amsSketch(df))
      .head().getLong(0)
    assert(got === want)
    // The construction is in range on the seeded corpus: a plain
    // median of squares would sit near 0.455·F2 — the group means
    // must land materially closer to the truth than that bias floor.
    val f2 = types.map { case (_, n) => n * n }.sum
    assert(got > (f2 * 55) / 100 && got < (f2 * 160) / 100,
      s"est $got vs exact $f2")
  }

  private def mirrorRegisters(keys: Seq[String]): Map[Long, Int] =
    keys.map { w =>
      val h = md5hex(w)
      val b = java.lang.Long.parseLong(h.substring(0, 2), 16)
      val x = java.lang.Long.parseLong(h.substring(2, 16), 16)
      val rank =
        if (x == 0L) Sketches.HllMaxRank
        else Sketches.HllMaxRank - (64 - java.lang.Long.numberOfLeadingZeros(x))
      b -> rank
    }.groupBy(_._1).map { case (b, rs) => b -> rs.map(_._2).max }

  test("hllRegisters ≡ MessageDigest mirror, and registers max-merge") {
    val keys = types.map(_._1).distinct
    val got = Sketches.hllRegisters(keys.toDF("w")).collect()
      .map(r => r.getLong(0) -> r.getInt(1)).toMap
    assert(got === mirrorRegisters(keys))
    // Mergeability: registers over A ∪ B = per-bucket max of the
    // halves' registers.
    val (a, b) = keys.splitAt(100)
    val ra = mirrorRegisters(a)
    val rb = mirrorRegisters(b)
    val merged = (ra.keySet ++ rb.keySet).map(k =>
      k -> math.max(ra.getOrElse(k, 0), rb.getOrElse(k, 0))).toMap
    assert(got === merged)
  }

  test("hllRegisters are multiplicity-insensitive: multiset ≡ distinct") {
    // The property q218's streaming maintenance rests on: a repeated
    // arrival (re-ingested shingle, per-source duplicate) cannot move
    // a max register, so feeding any multiset with the same distinct
    // support yields identical registers — no distinct on the stream.
    val keys = types.map(_._1)
    val dup = keys ++ keys.take(150) ++ keys.take(40)
    val got = Sketches.hllRegisters(dup.toDF("w")).collect()
      .map(r => r.getLong(0) -> r.getInt(1)).toMap
    assert(got === mirrorRegisters(keys.distinct))
  }

  test("hllEstimate = HllNum div S div 1e6 over the densified mirror") {
    val keys = types.map(_._1).distinct
    val regs = mirrorRegisters(keys)
    val s = (0 until Sketches.HllBuckets).map { b =>
      val mj = regs.getOrElse(b.toLong, 0)
      if (mj <= Sketches.HllShift) 1L << (Sketches.HllShift - mj) else 0L
    }.sum
    val want = Sketches.HllNum / s / 1000000L
    val got = Sketches.hllEstimate(spark,
      Sketches.hllRegisters(keys.toDF("w"))).head().getLong(0)
    assert(got === want)
    // Sanity: the raw estimator lands in the right decade on 200-ish
    // distinct keys (no bound gate — q22 owns bounded verification;
    // this pins arithmetic, the decade check just catches a unit slip).
    assert(got > keys.size / 10 && got < keys.size * 10L)
  }

  // ------------------------------------------------------------- KMV

  private def h52(s: String): Long =
    java.lang.Long.parseLong(md5hex(s).substring(0, 13), 16)

  private def mirrorKmv(keys: Seq[String]): Seq[Long] =
    keys.map(h52).distinct.sorted.take(Sketches.KmvK)

  // Three groups sized around k = 512: ga overfull (est leg), gb
  // exactly full, gc underfull (exact leg); ~120 keys shared between
  // ga and gb so the pair intersection is nontrivial.
  private val shared = (0 until 120).map(i => s"sh$i")
  private val kmvGroups: Map[String, Seq[String]] = Map(
    "ga" -> ((0 until 700).map(i => s"a$i") ++ shared),
    "gb" -> ((0 until (Sketches.KmvK - 120)).map(i => s"b$i") ++ shared),
    "gc" -> (0 until 90).map(i => s"c$i"))

  private def kmvInput =
    kmvGroups.toSeq.flatMap { case (g, ws) => ws.map(g -> _) }
      .toDF("g", "w")

  test("kmvSketch ≡ mirror min-k, and the min-k merge law holds") {
    val got = Sketches.kmvSketch(kmvInput).collect()
      .map(r => (r.getString(0), r.getLong(1)))
      .groupBy(_._1).map { case (g, rs) => g -> rs.map(_._2).sorted.toSeq }
    assert(got === kmvGroups.map { case (g, ws) => g -> mirrorKmv(ws) })
    // Mergeability: the k minima of A ∪ B equal the k smallest of the
    // two SKETCHES' union — full sets never needed again.
    val merged = (mirrorKmv(kmvGroups("ga")) ++ mirrorKmv(kmvGroups("gb")))
      .distinct.sorted.take(Sketches.KmvK)
    assert(merged === mirrorKmv(kmvGroups("ga") ++ kmvGroups("gb")))
  }

  test("kmvEstimate: exact when underfull, (k−1)·M div h_k when full") {
    val got = Sketches.kmvEstimate(Sketches.kmvSketch(kmvInput)).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    val want = kmvGroups.map { case (g, ws) =>
      val mk = mirrorKmv(ws)
      g -> (if (mk.size < Sketches.KmvK) mk.size.toLong
            else Sketches.KmvNum / mk.last)
    }
    assert(got === want)
    assert(got("gc") === 90L) // underfull leg is the exact count
    // Full legs land near truth (1/√k ≈ 4.4% std err; allow ±20%).
    val da = kmvGroups("ga").map(h52).distinct.size
    assert(got("ga") > da * 8 / 10 && got("ga") < da * 12L / 10,
      s"est ${got("ga")} vs exact $da")
  }

  test("kmvPairEstimates ≡ mirror (union + theta intersection)") {
    val got = Sketches.kmvPairEstimates(Sketches.kmvSketch(kmvInput))
      .collect()
      .map(r => (r.getString(0), r.getString(1)) ->
        ((r.getLong(2), r.getLong(3)))).toMap
    val want = (for {
      s1 <- kmvGroups.keys; s2 <- kmvGroups.keys if s1 < s2
    } yield {
      val ka = mirrorKmv(kmvGroups(s1)).toSet
      val kb = mirrorKmv(kmvGroups(s2)).toSet
      val minima = (ka ++ kb).toSeq.sorted.take(Sketches.KmvK)
      val nab = minima.count(h => ka(h) && kb(h)).toLong
      val (u, i) =
        if (minima.size < Sketches.KmvK) (minima.size.toLong, nab)
        else {
          val ue = Sketches.KmvNum / minima.last
          (ue, nab * ue / Sketches.KmvK)
        }
      (s1, s2) -> ((u, i))
    }).toMap
    assert(got === want)
    // The ga/gb intersection estimate lands near the true shared-set
    // size (120) — wide tolerance, this is a sanity decade check.
    val (_, interAB) = got(("ga", "gb"))
    assert(interAB > 40 && interAB < 360, s"inter est $interAB vs ~120")
  }

  // -------------------------------------------------- log2 histogram

  test("log2Histogram ≡ bit-length mirror; midpoint matches the" +
      " (2^(j−1)+2^j−1) div 2 definition") {
    val vals: Seq[Long] = Seq(0L, 1L, 2L, 3L, 4L, 7L, 8L, 1023L, 1024L) ++
      (0 until 200).map(_ => math.abs(rnd.nextLong()) % 100000L)
    val got = Sketches.log2Histogram(vals.toDF("v")).collect()
      .map(r => r.getInt(0) -> r.getLong(1)).toMap
    val want = vals.map(v =>
      if (v <= 0L) 0 else 64 - java.lang.Long.numberOfLeadingZeros(v))
      .groupBy(identity).map { case (j, vs) => j -> vs.size.toLong }
    assert(got === want)
    // Midpoint: the closed form 3·2^(j−2)−1 must equal the
    // definitional (2^(j−1) + 2^j − 1) div 2 on every bucket, and
    // every bucket member must sit within 2× of its midpoint (the
    // sketch's documented error bound).
    val mids = (0 to 40).map(j => j.toLong).toDF("j")
      .select(col("j"), Sketches.log2Midpoint(col("j")).as("m")).collect()
      .map(r => r.getLong(0).toInt -> r.getLong(1)).toMap
    (0 to 40).foreach { j =>
      val want = if (j == 0) 0L else ((1L << (j - 1)) + (1L << j) - 1) / 2
      assert(mids(j) === want, s"bucket $j")
      if (j >= 1) {
        val lo = 1L << (j - 1)
        val hi = (1L << j) - 1
        assert(mids(j) >= lo && mids(j) <= hi)
        assert(hi <= 2 * math.max(mids(j), 1L) + 1)
      }
    }
  }
}

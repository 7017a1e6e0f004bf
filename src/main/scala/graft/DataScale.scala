package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Scale-up data generator for bench-envelope runs:
  * `runMain graft.DataScale <srcSfDir> <outDir> [factor]` replicates a
  * harness sf directory `factor`× with shifted keys, so the bench can
  * confirm plans scale ~linearly when the data grows 10× (the check
  * that validates the 100 TB design claims, not just the sf0.1
  * numbers).
  *
  * Replication preserves referential structure: every key column
  * shifts by `replica × 10^9`, so joins fan out exactly as the
  * original (each replica is a closed world). `region`/`nation` are
  * fixed dimensions and copy through. Document text is
  * vowel-rotated per replica (otherwise every doc would gain 9 exact
  * near-duplicates and the dedup family's candidate work would grow
  * quadratically instead of with corpus size — a different experiment
  * than the scaling envelope). Embedding vectors and cluster labels
  * copy through unchanged: queries/centroids are id-derived slices,
  * so their counts scale with the corpus by construction (q40's
  * query batch grows 10× against a 10× corpus — quadratic BY QUERY
  * DESIGN; the envelope for it is 100×, documented where compared).
  */
object DataScale {

  val Shift = 1000000000L

  def main(args: Array[String]): Unit = {
    require(args.length >= 2, "usage: DataScale <srcSfDir> <outDir> [factor]")
    val (src, out) = (args(0), args(1))
    val factor = args.lift(2).map(_.toInt).getOrElse(10)
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = SparkEntry.builder(cpus).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    // Through Sources.table, not a raw parquet read: the harness
    // events table stores ts as TIMESTAMP(NANOS), which a raw read
    // (under nanosAsLong) surfaces — and would write — as plain
    // int64, leaving the replica's oracle reading BIGINT where every
    // query expects a timestamp.
    def load(t: String): DataFrame = graft.io.Sources.table(spark, src, t)

    /** Union of `factor` copies with the named id columns shifted.
      * Replica ranges must not overlap — negative keys or keys at or
      * above [[Shift]] would silently collide across replicas and
      * break the closed-world scaling premise, so they are rejected
      * (type-robustly: ids are cast to long first; an empty table has
      * nothing to collide and passes). */
    def replicate(t: String, idCols: Seq[String])
                 (mutate: (DataFrame, Int) => DataFrame = (d, _) => d): DataFrame = {
      val base = load(t)
      val bounds = base.select(idCols.flatMap(c => Seq(
        min(col(c).cast("long")).as(s"__min_$c"),
        max(col(c).cast("long")).as(s"__max_$c"))): _*).collect().head
      idCols.zipWithIndex.foreach { case (c, i) =>
        if (!bounds.isNullAt(2 * i)) {
          val (lo, hi) = (bounds.getLong(2 * i), bounds.getLong(2 * i + 1))
          require(lo >= 0 && hi < Shift,
            s"DataScale: $t.$c range [$lo, $hi] outside [0, $Shift); replicas would collide")
        }
      }
      (0 until factor).map { i =>
        val shifted = idCols.foldLeft(base) { (d, c) =>
          d.withColumn(c, col(c) + lit(i * Shift)) }
        mutate(shifted, i)
      }.reduce(_ unionByName _)
    }

    // Per-replica text transform: rotate letters by i%26 and digits by
    // i%10 — a char-class-preserving bijection, so within-replica
    // near-dup structure survives exactly while replicas stay textually
    // DISJOINT for any factor up to lcm(26,10)=130. (A 5-variant vowel
    // rotation was enough at factor 10 but collides at factor 100:
    // 20-replica exact-dup groups would make dedup candidate work
    // quadratic in the factor — a different experiment than the
    // corpus-size scaling envelope.)
    val letters = "abcdefghijklmnopqrstuvwxyz"
    val digits = "0123456789"
    val tables: Map[String, DataFrame] = Map(
      "region" -> load("region"),
      "nation" -> load("nation"),
      "customer" -> replicate("customer", Seq("c_custkey"))(),
      "supplier" -> replicate("supplier", Seq("s_suppkey"))(),
      "part" -> replicate("part", Seq("p_partkey"))(),
      "orders" -> replicate("orders", Seq("o_orderkey", "o_custkey"))(),
      "lineitem" -> replicate("lineitem",
        Seq("l_orderkey", "l_partkey", "l_suppkey"))(),
      "events" -> replicate("events", Seq("event_id", "user_id"))(),
      "documents" -> replicate("documents", Seq("doc_id")) { (d, i) =>
        val rotL = letters.drop(i % 26) + letters.take(i % 26)
        val rotD = digits.drop(i % 10) + digits.take(i % 10)
        d.withColumn("text",
          translate(col("text"), letters + digits, rotL + rotD))
      },
      // Embeddings: rotate each vector's dimensions by i%64 positions,
      // COMPOSED with a per-64-replica-group coordinate sign-flip
      // pattern (group g = i/64; flip dim j iff popcount(g & m_j) is
      // odd, m_j a fixed nonzero 6-bit mask per dim). Both transforms
      // are norm-preserving and fix all WITHIN-replica dot products
      // exactly (sign flips cancel: (s·x)·(s·y) = x·y — near-dup
      // structure intact) while cross-replica cosines decorrelate.
      // Rotation alone has period 64: replicas i and i+64 would carry
      // IDENTICAL vectors at factor > 64 (36 exact cross-replica copy
      // pairs at factor 100), quietly inflating ANN/near-dup bucket
      // work. The mask-parity construction matters: dims 0..5 carry
      // the unit masks, so any two distinct groups flip at least one
      // dim differently (patterns injective → combined period
      // 64·64 = 4096), and the hash-spread masks on higher dims make
      // any two distinct groups differ in ~half the dims (cos ≈ 0 —
      // a positional (j%6) pattern flips only ~11 dims between
      // adjacent groups, leaving cross-replica cosines ≈ 0.66, INSIDE
      // the 0.35 near-dup radius).
      "embeddings" -> replicate("embeddings", Seq("vec_id")) { (d, i) =>
        val r = i % 64
        val g = i / 64
        require(g < 64, s"embedding replica period exhausted at factor > 4096: i=$i")
        val rotated =
          if (r == 0) d
          else d.withColumn("embedding",
            concat(slice(col("embedding"), r + 1, 64 - r),
              slice(col("embedding"), 1, r)))
        if (g == 0) rotated
        else {
          val flips = typedlit((0 until 64).map { j =>
            val m = if (j < 6) 1 << j
                    else (((j * 2654435761L + 12345L) % 63L) + 1L).toInt
            if (java.lang.Integer.bitCount(g & m) % 2 == 1) -1f else 1f
          })
          // ±1 multiplication is a float sign flip — bit-exact.
          rotated.withColumn("embedding",
            zip_with(col("embedding"), flips, (x, s) => x * s))
        }
      })

    new java.io.File(out).mkdirs()
    tables.foreach { case (t, df) =>
      // Naive-µs timestamps (Verify's dump canonicalization): plain
      // TimestampType writes isAdjustedToUTC=true parquet, which the
      // oracle reads as TIMESTAMPTZ while the harness originals are
      // naive — the replica must keep the originals' type surface.
      Verify.canonTimestamps(df).write.mode("overwrite").parquet(s"$out/$t.parquet")
      println(s"[datascale] $t -> ${spark.read.parquet(s"$out/$t.parquet").count()} rows")
    }
    spark.stop()
  }
}

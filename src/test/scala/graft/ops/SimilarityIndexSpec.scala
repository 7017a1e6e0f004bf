package graft.ops

import java.nio.file.Files
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.TestSpark
import graft.io.{Sources, TableStore}

/** The materialized-ANN-index flow at production shape: build the IVF
  * cell assignment ONCE, persist it partitioned by cell id, and serve
  * probes that read only the probed cell's directory (partition
  * pruning) — per-query work scales with cell size, not corpus size. */
class SimilarityIndexSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  test("persisted cell index serves partition-pruned probes") {
    val e = Sources.table(spark, "/root/testdata/sf0.001", "embeddings")
    val store = new TableStore(spark, Files.createTempDirectory("graft_ann").toString)

    val cells = Similarity.assignCells(e, e.filter(col("vec_id") % 37 === 1))
    store.overwritePartitioned("ann_cells", cells, Seq("cid"))

    val index = store.read("ann_cells")
    // Hive partition discovery re-infers the partition column's type
    // (bigint cid comes back as int) — read it generically.
    val probeCid = index.select("cid").limit(1).collect().head.get(0).toString.toLong
    val probe = index.filter(col("cid") === probeCid)
    val plan = probe.queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters: [isnotnull(cid"),
      s"probe not partition-pruned:\n${plan.take(1200)}")
    assert(probe.count() > 0)

    // Probing every cell reconstructs exactly the corpus (assignment
    // is a partition of the vectors).
    assert(index.count() === e.count())
    assert(index.select("vec_id").distinct().count() === e.count())
  }

  test("ivfKnnIndexed over the persisted index equals one-shot ivfKnn") {
    val e = Sources.table(spark, "/root/testdata/sf0.001", "embeddings")
    val centroids = e.filter(col("vec_id") % 37 === 1)
    val queries = e.filter(col("vec_id") % 53 === 2)
    val store = new TableStore(spark, Files.createTempDirectory("graft_ann2").toString)
    store.overwritePartitioned("ann_cells",
      Similarity.assignCells(e, centroids), Seq("cid"))
    // The partition column comes back from Hive discovery as int —
    // restore the bigint the join keys expect.
    val index = store.read("ann_cells").withColumn("cid", col("cid").cast("bigint"))

    def key(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    val viaIndex = key(Similarity.ivfKnnIndexed(index, centroids, queries, 3))
    val oneShot = key(Similarity.ivfKnn(e, centroids, queries, 3))
    assert(viaIndex === oneShot)
    assert(viaIndex.nonEmpty)
  }

  test("rpCandidates: identical vectors always collide, orthogonal ones do not") {
    import spark.implicits._
    // v1 == v2 (identical → every band agrees); v3 = -v1 (opposite →
    // every sign bit flips, no band agrees). 64-dim like the corpus.
    def vec(seed: Int): Array[Float] =
      (1 to 64).map(j => ((seed * 31 + j * 7) % 13 - 6).toFloat).toArray
    val v = vec(1)
    val df = Seq((1L, v), (2L, v), (3L, v.map(-_))).toDF("vec_id", "embedding")
    val got = Similarity.rpCandidatesFromSigs(
        Similarity.rpSignatures(df, "vec_id", "embedding", dim = 64), "vec_id")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(got.contains((1L, 2L)))
    assert(!got.contains((1L, 3L)) && !got.contains((2L, 3L)))
  }

  test("rpWeights are integers exact in float32 and deterministic") {
    val w = Similarity.rpWeights(5, 64)
    assert(w === Similarity.rpWeights(5, 64))
    assert(w.forall(x => x == math.rint(x) && math.abs(x) <= 501001f))
  }

  test("assignCells raises on an over-bound codebook without collecting it") {
    import spark.implicits._
    val e = Sources.table(spark, "/root/testdata/sf0.001", "embeddings")
    // A "codebook" far over the bound: the guard must fire from the
    // bounded limit(Max+1) probe, never a full driver collect.
    val huge = spark.range(Similarity.MaxCentroids * 4L)
      .select(col("id").as("vec_id"),
        array(lit(1.0f), lit(2.0f)).as("embedding"))
    val ex = intercept[IllegalArgumentException] {
      Similarity.assignCells(e, huge)
    }
    assert(ex.getMessage.contains("codebook bound"))
  }
}

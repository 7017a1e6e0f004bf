package graft.io

import java.nio.file.Files
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.TestSpark

class TableStoreSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  private def newStore() =
    new TableStore(spark, Files.createTempDirectory("graft_store").toString)

  test("overwrite / append / read round-trip") {
    val store = newStore()
    store.overwrite("t", Seq((1, "a")).toDF("id", "v"))
    store.append("t", Seq((2, "b")).toDF("id", "v"))
    assert(store.read("t").collect().map(_.getInt(0)).sorted.toSeq === Seq(1, 2))
  }

  test("readOr returns an empty typed frame for a never-written table") {
    val store = newStore()
    val df = store.readOr("missing", Seq.empty[(Int, String)].toDF("id", "v").schema)
    assert(df.count() === 0 && df.columns.toSeq === Seq("id", "v"))
  }

  /** `read` takes the schema from a footer: it must give the schema and
    * rows Spark's own inference gives, and launch no Spark job. */
  private def assertReadsLikeSpark(store: TableStore, name: String): Unit = {
    val (df, jobs) = graft.JobCount(spark)(store.read(name))
    assert(jobs === 0, name)
    val inferred = spark.read.parquet(store.path(name))
    assert(df.schema === inferred.schema, name)
    def rows(d: org.apache.spark.sql.DataFrame) = d.collect().toSeq.map(_.toSeq).sortBy(_.mkString("|"))
    assert(rows(df) === rows(inferred), name)
  }

  test("read takes the schema from a footer: Spark's schema and rows, no job") {
    import java.nio.file.Paths
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types._
    val store = newStore()
    store.overwrite("flat", Seq((1, "a"), (2, "b")).toDF("id", "v"))
    store.append("flat", Seq((3, "c")).toDF("id", "v"))
    assertReadsLikeSpark(store, "flat")

    val t0 = java.sql.Timestamp.valueOf("2024-01-01 00:00:00")
    store.overwrite("empty", Seq.empty[(Int, String)].toDF("id", "v"))
    assertReadsLikeSpark(store, "empty")

    val typed = StructType(Seq(StructField("d", DateType), StructField("ts", TimestampType),
      StructField("amt", DecimalType(15, 2)), StructField("s", StringType, nullable = false)))
    store.overwrite("typed", store.localFrame(Seq(
      Row(java.sql.Date.valueOf("2024-02-29"), t0, new java.math.BigDecimal("1234.56"), "x"),
      Row(null, null, null, "y")), typed))
    assertReadsLikeSpark(store, "typed")
    assert(store.read("typed").schema.map(_.dataType) ===
      Seq(DateType, TimestampType, DecimalType(15, 2), StringType))

    // A snapshot swap that died between its renames: read restores it.
    store.overwrite("swapped", Seq((7, "g")).toDF("id", "v"))
    Files.move(Paths.get(store.path("swapped")), Paths.get(store.path("swapped.__old")))
    assertReadsLikeSpark(store, "swapped")
    assert(store.read("swapped").collect().map(_.getInt(0)).toSeq === Seq(7))
  }

  test("read of a table directory with no data file fails naming the table") {
    import java.nio.file.Paths
    val store = newStore()
    val dir = Files.createDirectories(Paths.get(store.path("hollow")))
    Files.createFile(dir.resolve("_SUCCESS"))
    // Data under a hidden name (a swap's scratch generation) is not the table's.
    store.overwrite("hollow/.__tmp", Seq(1).toDF("id"))
    val ex = intercept[IllegalStateException](store.read("hollow"))
    assert(ex.getMessage.contains("'hollow'"))
    // A `k=v` partitioned layout is not a table: its files are one level down.
    store.overwrite("parted/k=1", Seq(1).toDF("id"))
    val parted = intercept[IllegalStateException](store.read("parted"))
    assert(parted.getMessage.contains("'parted'"))
  }

  test("swapSnapshot replaces a table that the new snapshot reads") {
    val store = newStore()
    store.overwrite("dim", Seq((1, "a"), (2, "b")).toDF("id", "v"))
    val merged = store.read("dim").withColumn("v", upper(col("v")))
    store.swapSnapshot("dim", merged) // would fail with plain overwrite
    assert(store.read("dim").collect().map(_.getString(1)).sorted.toSeq === Seq("A", "B"))
    assert(!store.exists("dim.__tmp") && !store.exists("dim.__old"))
  }

  test("a snapshot swap that died between its renames is rolled back on read and swap") {
    import java.nio.file.Paths
    val store = newStore()
    def ids(df: org.apache.spark.sql.DataFrame) = df.collect().map(_.getInt(0)).sorted.toSeq
    // The crash window: live retired to `.__old`, the scratch
    // generation half-written and never promoted.
    def crash(): Unit = {
      Files.move(Paths.get(store.path("dim")), Paths.get(store.path("dim.__old")))
      store.overwrite("dim.__tmp", Seq((9, "partial")).toDF("id", "v"))
    }
    store.overwrite("dim", Seq((1, "a"), (2, "b")).toDF("id", "v"))
    crash()
    // A reader sees the retired generation, not a never-written table,
    // and a merge that reads it commits on top of the good copy.
    val schema = Seq.empty[(Int, String)].toDF("id", "v").schema
    assert(ids(store.readOr("dim", schema)) === Seq(1, 2))
    store.swapSnapshot("dim", store.read("dim").union(Seq((3, "c")).toDF("id", "v")))
    assert(ids(store.read("dim")) === Seq(1, 2, 3))
    // The next swap meets the crash without a read before it.
    crash()
    store.swapSnapshot("dim", Seq((4, "d")).toDF("id", "v"))
    assert(ids(store.read("dim")) === Seq(4))
    Seq("dim.__old", "dim.__tmp").foreach(d => assert(!Files.exists(Paths.get(store.path(d)))))
  }

  test("commitVersioned / readVersioned: manifest-committed generations") {
    val store = newStore()
    val g1 = store.commitVersioned("dim", Seq((1, "a"), (2, "b")).toDF("id", "v"))
    assert(g1 === 1L)
    assert(store.readVersioned("dim").collect().map(_.getString(1)).sorted.toSeq
      === Seq("a", "b"))
    // The next generation may READ the live one (no rename of a
    // directory anywhere — the pointer file moves instead).
    val g2 = store.commitVersioned("dim",
      store.readVersioned("dim").withColumn("v", upper(col("v"))))
    assert(g2 === 2L)
    assert(store.readVersioned("dim").collect().map(_.getString(1)).sorted.toSeq
      === Seq("A", "B"))
    assert(store.liveGeneration("dim") === Some(2L))
  }

  test("versioned generations evolve schema freely; time travel keeps old shapes") {
    // Each generation is a self-contained directory and readers
    // resolve ONE generation through the manifest — so adding,
    // widening, or dropping columns is just a new commit: no
    // mergeSchema union, no migration rewrite of history, and time
    // travel reproduces yesterday's exact shape (the property a
    // training-set snapshot read depends on).
    val store = newStore()
    val g1 = store.commitVersioned("dim", Seq((1, "a")).toDF("id", "v"))
    val g2 = store.commitVersioned("dim",
      Seq((1, "a", 10L), (2, "b", 20L)).toDF("id", "v", "score"))
    assert(store.readVersioned("dim").columns.toSeq === Seq("id", "v", "score"))
    assert(store.readVersionedAt("dim", g1).columns.toSeq === Seq("id", "v"))
    val g3 = store.commitVersioned("dim",
      store.readVersioned("dim").drop("v"))
    assert(store.readVersioned("dim").columns.toSeq === Seq("id", "score"))
    assert(store.readVersionedAt("dim", g2).columns.toSeq === Seq("id", "v", "score"))
    assert(Seq(g1, g2, g3) === Seq(1L, 2L, 3L) && store.liveGeneration("dim") === Some(g3))
  }

  test("a writer killed mid-swap leaves readers on the old committed generation") {
    val store = newStore()
    store.commitVersioned("dim", Seq((1, "live")).toDF("id", "v"))
    // Simulate the crash: the new generation directory materializes
    // fully, but the process dies BEFORE the manifest record publishes
    // — exactly what a failed rename-based swap cannot guarantee on an
    // object store.
    Seq((1, "orphan")).toDF("id", "v")
      .write.parquet(store.path("dim") + "/g2")
    assert(store.readVersioned("dim").collect().map(_.getString(1)).toSeq
      === Seq("live"), "reader observed an uncommitted generation")
    assert(store.liveGeneration("dim") === Some(1L))
    // Recovery needs no manual cleanup: the next committer skips past
    // the orphaned directory and becomes live.
    val g = store.commitVersioned("dim", Seq((1, "next")).toDF("id", "v"))
    assert(g === 3L)
    assert(store.readVersioned("dim").collect().map(_.getString(1)).toSeq === Seq("next"))
  }

  test("readVersionedAt time-travels committed generations only; a rewrite commits") {
    val store = newStore()
    store.commitVersioned("dim", Seq((1, "day1")).toDF("id", "v"))
    store.commitVersioned("dim", Seq((1, "day2"), (2, "day2")).toDF("id", "v"))
    assert(store.liveGeneration("dim") === Some(2L))
    // Reproduce yesterday's read while the live pointer is on day 2.
    assert(store.readVersionedAt("dim", 1L).collect().map(_.getString(1)).toSeq
      === Seq("day1"))
    assert(store.readVersioned("dim").count() === 2)
    // An orphaned directory is NOT a time-travel target.
    Seq((9, "orphan")).toDF("id", "v").write.parquet(store.path("dim") + "/g3")
    intercept[IllegalArgumentException] { store.readVersionedAt("dim", 3L) }
    // A rewrite of the live generation is itself a commit: contents
    // unchanged, the orphan skipped, the previous generation readable.
    val g = store.commitVersioned("dim", store.readVersioned("dim").repartition(1))
    assert(g === 4L)
    assert(store.readVersioned("dim").collect().map(r => (r.getInt(0), r.getString(1)))
      .sortBy(_._1).toSeq === Seq((1, "day2"), (2, "day2")))
    assert(store.readVersionedAt("dim", 2L).count() === 2)
  }

  test("tableChanges classifies inserts, deletes, and null-safe updates") {
    val store = newStore()
    store.commitVersioned("d", Seq(
      (1, Option("a")), (2, Option("b")), (3, None), (5, None)).toDF("id", "v"))
    store.commitVersioned("d", Seq(
      (2, Option("B")), (3, None), (4, Option("d")), (5, Option("e"))).toDF("id", "v"))
    val changes = store.tableChanges("d", 1L, 2L, Seq("id"))
      .collect().map(r => (r.getInt(0), r.getString(1))).sortBy(_._1).toSeq
    // 1 vanished, 2 changed, 3 unchanged (null <=> null — NO row),
    // 4 appeared, 5 changed null → value.
    assert(changes === Seq((1, "delete"), (2, "update"), (4, "insert"), (5, "update")))
    intercept[IllegalArgumentException] {
      store.commitVersioned("d", Seq((1, "x", "extra")).toDF("id", "v", "w"))
      store.tableChanges("d", 2L, 3L, Seq("id"))
    }
  }

  test("vacuumVersioned drops old and orphaned generations, keeps live history") {
    val store = newStore()
    (1 to 4).foreach(i => store.commitVersioned("dim", Seq((i, s"v$i")).toDF("id", "v")))
    // An orphan BELOW the live generation (a long-dead writer's
    // leftovers) is reclaimable; gens 1-2 age out at keep=2.
    val fs = new org.apache.hadoop.fs.Path(store.path("dim"))
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.delete(new org.apache.hadoop.fs.Path(store.path("dim") + "/_manifest/" + "0" * 19 + "3"), false)
    store.vacuumVersioned("dim")
    val dirs = fs.listStatus(new org.apache.hadoop.fs.Path(store.path("dim")))
      .map(_.getPath.getName).filter(_.startsWith("g")).sorted.toSeq
    // Kept: g2 and g4 (the two newest COMMITTED); g3's record was
    // deleted above, so it is an orphan below live and is dropped.
    assert(dirs === Seq("g2", "g4"), dirs)
    assert(store.readVersioned("dim").collect().map(_.getString(1)).toSeq === Seq("v4"))
  }
}

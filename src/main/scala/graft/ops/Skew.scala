package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Skew mitigation for hot join keys.
  *
  * A shuffle join hashes rows to partitions BY KEY, so one hot key
  * (the null-ish customer, the default terminal, the empty passport)
  * lands its entire row set on one task — the straggler that decides
  * the job's wall clock at 100 TB. AQE's skew-join split handles this
  * at runtime for sort-merge joins; salting is the plan-level fix
  * that also works where AQE cannot (aggregations feeding the join,
  * deterministic tests, static planning).
  *
  * [[saltedJoin]] splits each fact key into `salts` sub-keys using a
  * DETERMINISTIC salt (hash of the whole fact row's join-irrelevant
  * id, mod `salts`) — never `rand()`, which breaks retry/replay
  * determinism (a retried task must re-produce identical output) —
  * and replicates each dim row `salts` ways so every sub-key still
  * finds its match. Join semantics are provably unchanged: the salt
  * matches by construction, so the result equals the unsalted join
  * row-for-row (the oracle for q19 verifies exactly that).
  */
object Skew {

  /** Inner/left equi join on `key`, salted `salts` ways. `saltBy` must
    * be a deterministic per-row expression (e.g. a row id) — it only
    * spreads rows, it never affects matching. */
  /** Salting replicates DIM rows per salt, which is only
    * result-neutral when unmatched dim rows never surface: under
    * right/full outer an unmatched (hot) dim row would be emitted
    * once PER SALT — silently duplicated rows. Fail fast instead. */
  private def requireSaltableJoinType(op: String, joinType: String): Unit = {
    val t = joinType.toLowerCase.replace("_", "").replace("outer", "")
    require(t == "inner" || t == "left" || t == "leftsemi" || t == "leftanti",
      s"$op: join type '$joinType' is unsupported — the dim-side salt " +
        "replication duplicates unmatched dim rows under right/full outer; " +
        "supported: inner, left, left_semi, left_anti")
  }

  def saltedJoin(fact: DataFrame, dim: DataFrame, key: String,
                 saltBy: Column, salts: Int,
                 joinType: String = "inner"): DataFrame = {
    requireSaltableJoinType("saltedJoin", joinType)
    val saltedFact = fact.withColumn("__salt",
      pmod(xxhash64(saltBy), lit(salts)).cast("int"))
    val saltedDim = dim
      .withColumn("__salt", explode(array((0 until salts).map(lit): _*)))
    val out = saltedFact.join(saltedDim, Seq(key, "__salt"), joinType)
    out.drop("__salt")
  }

  /** [[saltedJoin]] that salts ONLY detected-hot keys — the right
    * trade when the dim side is itself large (an inverted index's
    * 1-row-per-key origin/frequency table): blanket salting replicates
    * the WHOLE dim `salts`× (measured 3× slower than a plain join on
    * the q130 shape), while hot keys are the handful of boilerplate
    * values that actually straggle. A sampled 1-in-16
    * detection pass (the [[boundedBucketSelfJoin]] discipline — counts
    * scale back up, borderline misses degrade gracefully to ≈ 2·cap
    * rows on one task) finds fact keys over `hotCap`; those keys salt
    * `salts` ways and their dim rows replicate to match, every other
    * key joins singly. The result set provably equals the plain join:
    * salting is pure routing (hot rows meet at (key, hash-salt), cold
    * rows at (key, 0)), so oracles are unaffected. An inner join.
    *
    * The hot-key set broadcasts: it is bounded by |fact|/`hotCap`
    * in principle and by the corpus's boilerplate vocabulary in
    * practice — the same boundedness argument as
    * [[boundedBucketSelfJoin]]'s hot-bucket broadcast. */
  def saltedJoinHot(fact: DataFrame, dim: DataFrame, key: String,
                    saltBy: Column, salts: Int, hotCap: Int): DataFrame = {
    require(salts > 1, s"saltedJoinHot: salts must be > 1, got $salts")
    require(hotCap > 0, s"saltedJoinHot: hotCap must be positive, got $hotCap")
    val detectOneIn = 16
    val hot = fact.filter(pmod(xxhash64(col(key), saltBy), lit(detectOneIn)) === 0)
      .groupBy(col(key))
      .agg((count(lit(1)) * detectOneIn).as("__kn"))
      .filter(col("__kn") > hotCap)
      .select(col(key), lit(true).as("__hot"))
    saltedJoinGivenHot(fact, dim, key, saltBy, salts, hot, "inner")
  }

  /** [[saltedJoinHot]] with the hot-key set SUPPLIED by the caller —
    * for call sites that already aggregate per-key counts for another
    * reason (q208/q209 derive their duplicated-span set from a
    * `sum(occ)` over the persisted span index; the hot set is the
    * same aggregate with a higher threshold), so the sampled
    * detection pass — which would replay the FACT side's lineage,
    * a corpus-wide explode for a span stream — never runs. `hotKeys`
    * must have a column named `key` (extra columns are dropped) and
    * must be bounded (it broadcasts — the saltedJoinHot boundedness
    * argument). Hotness is a pure routing policy: any hot set yields
    * the same join result, so callers may threshold however their
    * existing aggregate makes cheap. */
  def saltedJoinGivenHot(fact: DataFrame, dim: DataFrame, key: String,
                         saltBy: Column, salts: Int, hotKeys: DataFrame,
                         joinType: String = "inner"): DataFrame =
    saltedJoinGivenHot(fact, dim, Seq(key), saltBy, salts, hotKeys, joinType)

  /** Multi-column-key form of [[saltedJoinGivenHot]] — for callers
    * whose join key is a composite (e.g. a 128-bit fingerprint carried
    * as two bigint columns so the shuffle never moves the original
    * string). `hotKeys` is deduplicated here (it is bounded and
    * broadcasts, so the distinct is noise): a caller-supplied hot set
    * with duplicate key rows would otherwise silently multiply fact
    * rows through the broadcast left join. */
  def saltedJoinGivenHot(fact: DataFrame, dim: DataFrame, keys: Seq[String],
                         saltBy: Column, salts: Int, hotKeys: DataFrame,
                         joinType: String): DataFrame = {
    requireSaltableJoinType("saltedJoinGivenHot", joinType)
    require(salts > 1, s"saltedJoinGivenHot: salts must be > 1, got $salts")
    require(keys.nonEmpty, "saltedJoinGivenHot: keys must be non-empty")
    saltedJoinGivenHotImpl(fact, dim, keys, saltBy, salts,
      hotKeys.select(keys.map(col): _*).distinct()
        .withColumn("__hot", lit(true)), joinType)
  }

  private def saltedJoinGivenHotImpl(
      fact: DataFrame, dim: DataFrame, keys: Seq[String],
      saltBy: Column, salts: Int, hot: DataFrame,
      joinType: String): DataFrame = {
    val saltedFact = fact.join(broadcast(hot), keys, "left")
      .withColumn("__salt",
        when(col("__hot"), pmod(xxhash64(saltBy), lit(salts)))
          .otherwise(lit(0L)).cast("int"))
      .drop("__hot")
    val saltedDim = dim.join(broadcast(hot), keys, "left")
      .withColumn("__salt", explode(
        when(col("__hot"), sequence(lit(0), lit(salts - 1)))
          .otherwise(array(lit(0)))))
      .drop("__hot")
    saltedFact.join(saltedDim, keys :+ "__salt", joinType).drop("__salt")
  }

  /** Within-bucket self pair join (`id < id_2`) with BOUNDED per-task
    * pair work — the straggler fix for pair scoring over skewed
    * buckets (embedding near-dup, candidate verification).
    *
    * A plain self equi join on the bucket key does b·(b−1)/2
    * comparisons for a b-row bucket ON ONE TASK — quadratic in the
    * hottest bucket, which at 100 TB is the whole job's wall clock. A
    * bucket over `cap` rows is split into s = ⌈b/cap⌉ sub-groups by a
    * DETERMINISTIC hash of the id (never rand(): retried tasks must
    * reproduce identical output), and each (sub i, sub j) cell becomes
    * its own join task: each side is replicated s ways so the pair
    * (x∈i, y∈j) meets at exactly one key (bucket, i, j). Per-task work
    * drops to ≈cap², at the cost of s× shuffle replication — the
    * standard fragment-replicate triangle trade.
    *
    * The pair SET is provably identical to the plain bucket self join
    * (each unordered pair meets exactly once in each orientation and
    * `id < id_2` keeps one), so correctness oracles are unaffected by
    * the cap. Buckets at-or-under `cap` degenerate to s = 1 — single
    * copy, single task, the plain join.
    *
    * `detectOneIn > 1` makes the HOT-BUCKET DETECTION pass sampled: a
    * deterministic 1-in-r hash filter keeps the detection aggregation
    * at 1/r of the row volume (when bucket keys are mostly unique —
    * an inverted shingle index — the exact count is a near-full
    * shuffle, and at 100 TB that detection pass is itself a job).
    * Counts scale back up by r, so split factors match the exact
    * path's within sampling noise. This NEVER affects the pair set —
    * splitting is a performance policy — and the per-task bound
    * degrades gracefully: a bucket must reach ~2·cap before its
    * detection probability is even meaningfully below certainty
    * (expected sample 2·cap/r; for cap/r ≥ 32 a miss needs the
    * deterministic hash to zero out 60+ expected hits), and a
    * just-missed borderline bucket costs ≈(2·cap)²/2 pairs — the same
    * order as the designed cap² task bound. The filter hashes
    * (bucket, id) — independent of the sub-group hash over id alone —
    * and is exact (`detectOneIn = 1`) by default.
    *
    * Right-side columns come back renamed with the suffix `_2`; helper
    * columns are dropped. */
  def boundedBucketSelfJoin(df: DataFrame, bucketCol: String, idCol: String,
                            cap: Int, detectOneIn: Int = 1): DataFrame = {
    val rightSuffix = "_2"
    require(cap > 0, s"boundedBucketSelfJoin: cap must be positive, got $cap")
    require(detectOneIn >= 1,
      s"boundedBucketSelfJoin: detectOneIn must be >= 1, got $detectOneIn")
    // Only oversized buckets' counts ship to the executors (tiny by
    // construction: a bucket must beat the cap to appear).
    val detected =
      if (detectOneIn == 1) df
      else df.filter(
        pmod(xxhash64(col(bucketCol), col(idCol)), lit(detectOneIn)) === 0)
    val hot = detected.groupBy(col(bucketCol))
      .agg((count(lit(1)) * detectOneIn).as("__bn"))
      .filter(col("__bn") > cap)
    val base = df.join(broadcast(hot), Seq(bucketCol), "left")
      .withColumn("__subs",
        coalesce(ceil(col("__bn").cast("double") / cap).cast("int"), lit(1)))
      .withColumn("__g", pmod(xxhash64(col(idCol)), col("__subs")).cast("int"))
      .drop("__bn")
    // Left row in sub-group g serves every task (g, j); right row in
    // sub-group h serves every task (i, h). Pair (g, h) meets once.
    val tasks = sequence(lit(0), col("__subs") - 1)
    val left = base.withColumn("__task_r", explode(tasks))
    val rightBase = base.withColumn("__task_l", explode(tasks))
    val right = rightBase.columns.foldLeft(rightBase) {
      (d, c) => d.withColumnRenamed(c, c + rightSuffix)
    }
    left.join(right,
        col(bucketCol) === col(bucketCol + rightSuffix) &&
          col("__g") === col("__task_l" + rightSuffix) &&
          col("__task_r") === col("__g" + rightSuffix) &&
          col(idCol) < col(idCol + rightSuffix))
      .drop("__subs", "__g", "__task_r",
        "__subs" + rightSuffix, "__g" + rightSuffix, "__task_l" + rightSuffix)
  }
}

package graft
import org.apache.spark.sql.SparkSession

/** Benchmark main. Methodology:
  *   - one full warmup pass first (JVM/codegen/broadcast warmup — the
  *     first queries of a cold JVM otherwise absorb multi-second JIT
  *     costs and per-query numbers are unusable for round-over-round
  *     comparison);
  *   - timed pass materializes via `queryExecution.toRdd.count()` so
  *     projection-only work (parses, casts) cannot be optimized away as
  *     it would under `df.count()`;
  *   - failures are NOT swallowed: they are reported per-query in an
  *     "errors" field and the process exits non-zero.
  */
object Bench {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val spark = SparkEntry.builder(cpus).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    // SPARK_GRAFT_ONLY=q10_star_enrich,q12_fraud_rules → time just
    // those (iteration aid; the driver never sets it). Entries are
    // trimmed and validated — a typo must fail loudly, not silently
    // time an empty set.
    val only = sys.env.get("SPARK_GRAFT_ONLY")
      .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSet)
    only.foreach { names =>
      require(names.nonEmpty,
        "SPARK_GRAFT_ONLY is set but names no queries (empty/whitespace)")
      val unknown = names -- SparkEntry.queries.keySet
      require(unknown.isEmpty, s"SPARK_GRAFT_ONLY names unknown queries: " +
        s"${unknown.toSeq.sorted.mkString(", ")}")
    }
    val queries = SparkEntry.queries.toSeq.sortBy(_._1)
      .filter { case (n, _) => only.forall(_.contains(n)) }
    val errors = scala.collection.mutable.LinkedHashMap[String, String]()

    // HOST-CALIBRATION KERNEL: a fixed-size, fixed-seed, CPU-bound
    // float dot-product pass (the q40 brute-force shape over a
    // synthetic hash-derived frame — no I/O, no shuffle) timed at the
    // start of every bench run and reported as `calib_sec`. Purpose:
    // cross-round absolute times are host-confounded (r13 measured the
    // UNTOUCHED q40 kernel at 1.5-2x r12's time purely from box
    // speed); dividing a run's totals by its calibration scalar turns
    // that narrative into arithmetic. Seven passes, min reported:
    // contention noise is ONE-SIDED (it only ever adds time), so the
    // min over several small passes converges on the box's true speed
    // where a single large pass would bake a burst in (observed: a
    // 3-pass variant read 1.9-5.8 s across same-box sessions).
    def calibrationKernel(): Double = {
      import org.apache.spark.sql.functions._
      def once(): Double = {
        val t0 = System.nanoTime()
        val dim = 64
        val vec = transform(sequence(lit(0), lit(dim - 1)),
          j => (pmod(hash(col("id"), j), lit(997)).cast("float") /
            lit(997.0f)).cast("float"))
        val vec2 = transform(sequence(lit(0), lit(dim - 1)),
          j => (pmod(hash(col("id") + 1, j), lit(997)).cast("float") /
            lit(997.0f)).cast("float"))
        spark.range(0, 1L << 20, 1, cpus.toInt)
          .select(aggregate(zip_with(vec, vec2, (a, b) => a * b),
            lit(0.0f), (acc, x) => acc + x).as("d"))
          .agg(sum(col("d"))).queryExecution.toRdd.count(): Unit
        (System.nanoTime() - t0) / 1e9
      }
      (1 to 7).map(_ => once()).min
    }
    val calibSec = calibrationKernel()

    // PER-QUERY WATCHDOG: one pathological query must never convert
    // the whole bench into an empty timed-out artifact (r10: a single
    // unmeasured query hit the driver's 1-hour budget → rc=124 with
    // ZERO timings for the 143 healthy queries). Each pass runs on a
    // daemon thread under a named job group; on expiry the group is
    // cancelled (interruptOnCancel kills its tasks) and the query is
    // recorded as a NAMED timeout in `errors` — the bench still exits
    // non-zero, but WITH every other query's timings. A query stuck
    // in driver-side work (planning, expression construction) ignores
    // the job-group cancel; the thread interrupt + daemon flag still
    // let the bench proceed and the JVM exit.
    val queryTimeoutSec: Long =
      sys.env.getOrElse("SPARK_GRAFT_QUERY_TIMEOUT_SEC", "120").toLong
    // CODEGEN CENSUS: whole-stage codegen fallbacks per query, counted
    // from the engine's "Whole-stage codegen disabled" warning over the
    // warmup and every timed pass. A fallback re-runs the failed compile
    // and then the stage interpreted on EVERY execution (Spark caches no
    // failed compile), a cost the per-query time shows only as "slow";
    // the census names the query. Queries run one at a time, so the
    // query current when the warning is logged is the one it belongs to.
    val currentQuery = new java.util.concurrent.atomic.AtomicReference("")
    val codegenFallbacks = scala.collection.concurrent.TrieMap[String, Long]()
    locally {
      import org.apache.logging.log4j.LogManager
      import org.apache.logging.log4j.core.{LogEvent, LoggerContext}
      import org.apache.logging.log4j.core.appender.AbstractAppender
      import org.apache.logging.log4j.core.config.Property
      val ctx = LogManager.getContext(false).asInstanceOf[LoggerContext]
      val app = new AbstractAppender("bench-codegen", null, null, true,
          Property.EMPTY_ARRAY) {
        override def append(e: LogEvent): Unit =
          if (e.getMessage.getFormattedMessage.contains("Whole-stage codegen disabled"))
            codegenFallbacks.updateWith(currentQuery.get)(c => Some(c.getOrElse(0L) + 1)): Unit
      }
      app.start()
      ctx.getConfiguration.getRootLogger.addAppender(app, null, null)
      ctx.updateLoggers()
    }

    val watchdog = java.util.concurrent.Executors.newCachedThreadPool(
      (r: Runnable) => { val t = new Thread(r, "bench-watchdog"); t.setDaemon(true); t })
    val clearCacheNanos = new java.util.concurrent.atomic.AtomicLong(0L)

    def run(name: String, fn: (SparkSession, String) => org.apache.spark.sql.DataFrame,
            timeoutSec: Long = queryTimeoutSec): Unit = {
      val group = s"bench-$name"
      currentQuery.set(name)
      val task = watchdog.submit(new java.util.concurrent.Callable[Unit] {
        def call(): Unit = {
          // Job group is a thread-local: set it on the thread that
          // actually submits the Spark jobs.
          spark.sparkContext.setJobGroup(group, name, interruptOnCancel = true)
          try fn(spark, sfDir).queryExecution.toRdd.count(): Unit
          finally spark.sparkContext.clearJobGroup()
        }
      })
      try task.get(timeoutSec, java.util.concurrent.TimeUnit.SECONDS)
      catch {
        case _: java.util.concurrent.TimeoutException =>
          spark.sparkContext.cancelJobGroup(group)
          task.cancel(true): Unit
          throw new RuntimeException(
            s"timeout: exceeded ${timeoutSec}s; job group cancelled")
        case e: java.util.concurrent.ExecutionException =>
          throw Option(e.getCause).getOrElse(e)
      } finally {
        // Queries may cache intermediate frames (LSH signatures); drop
        // them so later queries aren't measured under another query's
        // memory pressure. Timed: at sf10 the inter-query gap (this
        // plus job teardown/GC) is roughly HALF the matrix wall-clock
        // — `clearcache_sec` makes its clearCache share measured, not
        // inferred (the run_quality saturation analysis).
        val c0 = System.nanoTime()
        spark.catalog.clearCache()
        clearCacheNanos.addAndGet(System.nanoTime() - c0): Unit
      }
    }

    // Warmup pass: every query once, failures tolerated (the timed pass
    // is authoritative for errors — a warmup-only hiccup must not fail
    // the bench if the timed run succeeds). 3× the per-query budget:
    // warmup absorbs the one-time persisted-index builds, which are
    // legitimately much slower than the steady-state query.
    queries.foreach { case (name, fn) =>
      try run(name, fn, timeoutSec = queryTimeoutSec * 3)
      catch { case _: Throwable => () }
    }

    // Timed passes: two per query, min reported — single-shot numbers
    // carry GC/compilation noise that reads as phantom round-over-round
    // regressions. The two passes are INTERLEAVED (every query once,
    // then every query again) rather than back-to-back per query: a
    // minutes-long machine-contention burst then lands on at most ONE
    // of a query's samples — back-to-back samples both sit inside the
    // burst and their min reads as a phantom plan regression (observed
    // round-over-round: untouched queries swinging 4-7× in full runs
    // while benching clean in isolation minutes later). If the two
    // samples still disagree by >1.5× the query gets up to two extra
    // passes. A failed query reports time=null and contributes nothing
    // to the total.
    // PER-QUERY MEMORY LEDGER: the sf10 suite's footprint jumped from
    // 8g to 32g across r13→r14 and the jump was only discovered as an
    // OOM pair — the calib_sec discipline applied to memory. Around
    // every timed pass, heap-pool peak counters are reset then read
    // (JMX MemoryPoolMXBean — peak tracking is maintained by the JVM,
    // ~free), and the max across a query's passes lands in the JSON as
    // `peak_heap_bytes`. A peak INCLUDES uncollected garbage, so it is
    // an upper bound on live footprint — the right shape for "which
    // query drives the -Xmx requirement" attribution, not a leak
    // detector.
    val heapPools = {
      import scala.jdk.CollectionConverters._
      java.lang.management.ManagementFactory.getMemoryPoolMXBeans.asScala
        .filter(p => p.getType == java.lang.management.MemoryType.HEAP)
    }
    val peakHeap = scala.collection.mutable.LinkedHashMap[String, Long]()
    def timeQuery(name: String,
                  fn: (SparkSession, String) => org.apache.spark.sql.DataFrame,
                  recordError: Boolean): Option[Double] = {
      heapPools.foreach(_.resetPeakUsage())
      val t0 = System.nanoTime()
      try { run(name, fn); Some((System.nanoTime() - t0) / 1e9) }
      catch { case e: Throwable =>
        if (recordError)
          errors(name) = Option(e.getMessage).getOrElse(e.getClass.getName).take(300)
        None
      } finally {
        val peak = heapPools.map(p => Option(p.getPeakUsage).fold(0L)(_.getUsed)).sum
        peakHeap.update(name, math.max(peakHeap.getOrElse(name, 0L), peak))
      }
    }
    val wallT0 = System.nanoTime()
    // Timed-section teardown ledger starts here (warmup's clearCache
    // time is not part of the wall/total decomposition).
    clearCacheNanos.set(0L)
    val passes: Seq[Map[String, Option[Double]]] = (1 to 2).map { _ =>
      queries.map { case (name, fn) =>
        name -> timeQuery(name, fn, recordError = true) }.toMap
    }
    // Stability-pass ledger: re-passes are real wall time that the
    // min-reported totals never see — without this, wall − 2·Σt reads
    // as mystery teardown (the run_quality saturation analysis).
    val extraPassNanos = new java.util.concurrent.atomic.AtomicLong(0L)
    val extraPassCount = new java.util.concurrent.atomic.AtomicLong(0L)
    val results: Seq[(String, Option[Double])] = queries.map { case (name, fn) =>
      def timeOnce(recordError: Boolean): Option[Double] = {
        val e0 = System.nanoTime()
        val cc0 = clearCacheNanos.get()
        val r = timeQuery(name, fn, recordError)
        // Subtract this pass's clearCache share: run()'s finally adds
        // it to clearCacheNanos, so counting the full elapsed window
        // here would put the same nanos in BOTH clearcache_sec and
        // extra_pass_sec and the wall − 2·Σt decomposition would
        // double-count the overlap.
        extraPassNanos.addAndGet(
          System.nanoTime() - e0 - (clearCacheNanos.get() - cc0)): Unit
        extraPassCount.incrementAndGet(): Unit
        r
      }
      val first = passes.flatMap(_(name))
      name -> (if (first.size < 2) None else {
        // Stability passes don't record errors: the two authoritative
        // passes succeeded, so the result stands — a hiccup here must
        // not turn a timed query into a failed one. Stability is judged
        // on the two SMALLEST samples (the inflated outlier never
        // leaves the list, so a max/min test would retry forever).
        var samples = first.toList
        var extras = 0
        // Absolute-difference gate too: for sub-100ms queries ordinary
        // scheduler/GC jitter routinely exceeds 1.5× as a pure ratio
        // (and a zero sample would divide by zero), so noise on
        // near-zero timings must not burn the extra passes. The slack
        // DEFAULTS TO THE PERF GATE'S OWN ABS (check_bench.py: 0.15 s
        // at sf0.1) — a disagreement the gate itself would shrug at
        // cannot flip a verdict, so resolving it is pure wall time
        // (r14's sf10 ledger: 28 hidden re-passes = 213 s). sf10 runs
        // export SPARK_GRAFT_REPASS_ABS=5.0 to match that gate's ABS.
        val repassAbs =
          sys.env.getOrElse("SPARK_GRAFT_REPASS_ABS", "0.15").toDouble
        def unstable = {
          val s = samples.sorted.take(2)
          s(1) - s(0) > repassAbs && s(1) > s(0) * 1.5
        }
        while (unstable && extras < 2) {
          timeOnce(recordError = false).foreach(t => samples = t :: samples)
          extras += 1
        }
        Some(samples.min)
      })
    }

    def jstr(s: String): String =
      "\"" + s.flatMap {
        case '"' => "\\\""; case '\\' => "\\\\"; case '\n' => "\\n"
        case c if c < ' ' => f"\\u${c.toInt}%04x"; case c => c.toString
      } + "\""
    val qs = results.map { case (k, v) =>
      jstr(k) + ":" + v.fold("null")(_.toString) }.mkString("{", ",", "}")
    val errJson = errors.map { case (k, v) => jstr(k) + ":" + jstr(v) }.mkString("{", ",", "}")
    val total = results.flatMap(_._2).sum
    // Run-quality marker: wall clock of the timed section over 2× the
    // reported (min-of-passes) total. A clean run reads ≈1.0–1.4; a
    // machine-contention burst inflates the wall without touching the
    // mins, so a large ratio flags that round-over-round comparisons
    // of THIS run's numbers need noise-screening (observed r6: an 8×
    // sbt wall with untouched queries swinging 4-7×).
    val wallSec = (System.nanoTime() - wallT0) / 1e9
    val quality = if (total > 0) wallSec / (2 * total) else 0.0
    val ccSec = clearCacheNanos.get() / 1e9
    val exSec = extraPassNanos.get() / 1e9
    // Explicit subset marker: check_bench.py exempts SPARK_GRAFT_ONLY
    // runs from the baseline-coverage gate. Keying that exemption on a
    // structural row-count heuristic misfires both ways (a full run
    // heavily nulled by timeouts silently slips the gate; a wide ONLY
    // subset fails on legitimately-new keys) — so the run SAYS whether
    // it was a subset, and reports its error count for the
    // nulled-full-run case.
    val mem = peakHeap.map { case (k, v) => jstr(k) + ":" + v }
      .mkString("{", ",", "}")
    val fallbacks = queries.map { case (k, _) =>
      jstr(k) + ":" + codegenFallbacks.getOrElse(k, 0L) }.mkString("{", ",", "}")
    println(f"""{"metric":"total","value":$total,"unit":"sec","wall_sec":$wallSec%.3f,"run_quality":$quality%.3f,"calib_sec":$calibSec%.3f,"clearcache_sec":$ccSec%.3f,"extra_passes":${extraPassCount.get()},"extra_pass_sec":$exSec%.3f,"subset":${only.isDefined},"n_errors":${errors.size},"heap_max_bytes":${Runtime.getRuntime.maxMemory},"peak_heap_bytes":$mem,"codegen_fallbacks":$fallbacks,"queries":$qs,"errors":$errJson,"sf":${jstr(sfDir)}}""")
    spark.stop()
    if (errors.nonEmpty) sys.exit(1)
  }
}

#!/usr/bin/env python3
"""Runs one benchmark workload and prints its metrics.

Usage (from the repository root):
  python3 perfbench/run.py --workload daily_replay|query_mix --seed N
                           --seconds S --trace 0|1

Builds the engine from source (perfbench/build.py), generates the
workload's inputs from the seed (perfbench/gen.py), drives the engine
through its public entry points in one JVM (perfbench/scala/Harness.scala),
checks the outputs with DuckDB (perfbench/checks.py), and prints a few
human-readable lines followed by one JSON line:
  {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}
With --trace 0 the metrics are the end-to-end ones, with --trace 1 the
per-layer ones (see perfbench/README.md). Exits 1 if any operation or
output check failed, 2 if the benchmark could not run at all.
"""
import argparse
import json
import math
import os
import shutil
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
sys.dont_write_bytecode = True

import build  # noqa: E402
import checks  # noqa: E402
import gen  # noqa: E402
import stats  # noqa: E402

STAGES = ["transactions", "blacklist", "terminals", "cards", "accounts", "clients", "report"]
DIMS = ["terminals", "cards", "accounts", "clients"]
# One query per layer: Dedup, Temporal, Similarity, Multimodal, Bpe,
# Sketches (with its codegen fallback) and Streaming.
QUERIES = ["q31_minhash_lsh", "q86_asof_join", "q41_ann_ivf", "q127_multimodal_clusters",
           "q155_tokenizer_drift", "q212_ams_f2_moment", "q96_stream_sessions"]
STREAMS = ["q96_stream_sessions"]

# Nominal seconds of one operation (a replayed day, a pass over the mix)
# on a 4-core box, and the fewest timed operations a run makes. A run
# does ceil(seconds / nominal) of them, at least that fewest and at least
# 2 when traced (one untraced, one traced): the amount of work depends on
# the arguments only, never on how fast it goes.
WORKLOADS = {"daily_replay": 11.0, "query_mix": 10.0}
MIN_OPS = {"daily_replay": 2, "query_mix": 1}


def op_count(workload, seconds, trace):
    return max(MIN_OPS[workload], 2 * trace, math.ceil(seconds / WORKLOADS[workload]))


def harness_budget_s(workload, n_ops):
    """Seconds the harness may run before it is stopped. Up to the
    operations of a traced run at --seconds 10 it gets 165 s, which
    leaves room for input generation and the checks in a 180 s run; each
    further operation adds three times its nominal cost (a slow spell of
    the box runs about twice the nominal cost)."""
    return 165 + 3 * WORKLOADS[workload] * max(0, n_ops - op_count(workload, 10, 1))

END_TO_END = [("setup_s", "s"), ("op_p50_s", "s"), ("op_tail_s", "s"),
              ("items_per_s", "1/s"), ("peak_live_heap_mb", "MB")]


def per_layer_names():
    names = []
    for s in STAGES:
        names += [(f"stage.{s}.s", "s"), (f"stage.{s}.jobs", "count"),
                  (f"stage.{s}.tasks", "count"), (f"stage.{s}.files_written", "count")]
    names += [("stage.report.shuffle_bytes", "bytes"), ("store.bytes_written", "bytes"),
              ("antiinsert.useful_ratio", "ratio")]
    for d in DIMS:
        names += [(f"scd2.{d}.opened", "count"), (f"scd2.{d}.closed", "count"),
                  (f"scd2.{d}.deleted", "count")]
    names += [(f"jdbc.{d}.rows", "count") for d in DIMS[1:]]
    names += [("pipeline.orchestration_residual_s", "s"),
              ("registry.build_s", "s"), ("registry.tables", "count"), ("registry.bytes", "bytes")]
    for q in QUERIES:
        names += [(f"query.{q}.s", "s"), (f"query.{q}.tasks", "count"),
                  (f"query.{q}.shuffle_bytes", "bytes")]
    names += [("mix.exec_p50_s", "s"), ("codegen.fallbacks", "count")]
    for q in STREAMS:
        names += [(f"stream.{q}.batches", "count"), (f"stream.{q}.add_batch_ms", "ms"),
                  (f"stream.{q}.planning_ms", "ms"), (f"stream.{q}.wal_commit_ms", "ms")]
    names += [("engine.busy_ratio", "ratio"), ("heap.peak_after_gc_in_ops_mb", "MB"),
              ("trace.overhead_s", "s"),
              ("op.samples", "count"), ("op.tail_pct", "%"), ("fail_ratio", "ratio")]
    return names


JVM_OPENS = ["java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
             "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
             "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar"]


def run_jvm(classes, cfg, work, deadline):
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    # -Xms: the forced collections that sample the live heap between
    # operations would otherwise shrink the heap to a few hundred MB, and
    # the next operation ran under back-to-back concurrent G1 cycles
    # (about 50 GC pauses in a day instead of about 8, and a slower day).
    cmd = ["java", "-Xms2g", "-Xmx3g", "-Xss8m", "-XX:-UsePerfData",
           *[x for p in JVM_OPENS for x in ("--add-opens", f"java.base/{p}=ALL-UNNAMED")],
           f"-Djava.io.tmpdir={tmp}",
           f"-Dderby.stream.error.file={work}/derby.log",
           f"-Dlog4j2.configurationFile={HERE}/log4j2.properties",
           f"-Dspark.hadoop.hadoop.tmp.dir={tmp}",
           "-cp", f"{classes}:{build.spark_jars(os.getcwd())}/*", "perfbench.Harness",
           *[f"{k}={v}" for k, v in cfg.items()]]
    log = os.path.join(work, "jvm.log")
    with open(log, "w") as lf:
        p = subprocess.Popen(cmd, stdout=lf, stderr=subprocess.STDOUT)
        try:
            p.wait(timeout=max(1.0, deadline - time.time()))
        except subprocess.TimeoutExpired:
            p.kill()
            p.wait()
            raise RuntimeError("harness timed out")
    if p.returncode != 0:
        with open(log) as f:
            tail = f.read()[-3000:]
        raise RuntimeError(f"harness exited {p.returncode}:\n{tail}")
    with open(cfg["out"]) as f:
        return json.load(f)


def traced_fallbacks(res):
    """Codegen fallbacks logged while a traced stage or query ran."""
    return sum(n for label, n in res["codegen_fallbacks"].items()
               if label.startswith(("stage.", "query.")))


def pipeline_metrics(res, schedule, trace, counts):
    days = {d["slot"]: d for d in schedule}
    untraced = [o["s"] for o in res["ops"] if not o["traced"]]
    traced = [o for o in res["ops"] if o["traced"]]
    if not trace:
        total = sum(o["s"] for o in res["ops"])
        return untraced, {"items_per_s": res["rows_landed"] / total if total else 0.0}
    st = stats.self_times(res["spans"])
    by_name = {}
    for s in res["spans"]:
        by_name.setdefault(s["name"], []).append(st[s["id"]])
    eng = res["engine"]
    m = {}
    for s in STAGES:
        e = eng.get(f"stage.{s}", {})
        m[f"stage.{s}.s"] = stats.median(by_name.get(f"stage.{s}", []))
        m[f"stage.{s}.jobs"] = e.get("jobs", 0)
        m[f"stage.{s}.tasks"] = e.get("tasks", 0)
        m[f"stage.{s}.files_written"] = res["stage_files"].get(s, 0)
    m["stage.report.shuffle_bytes"] = eng.get("stage.report", {}).get("shuffle_bytes", 0)
    m["store.bytes_written"] = sum(e["output_bytes"] for e in eng.values())
    staged = sum(days[o["slot"]]["tx_rows"] for o in res["ops"])
    m["antiinsert.useful_ratio"] = res["rows_landed"] / staged if staged else 0.0
    for d in DIMS:
        for k in ("opened", "closed", "deleted"):
            m[f"scd2.{d}.{k}"] = counts[d][k]
    for d in DIMS[1:]:
        m[f"jdbc.{d}.rows"] = res["jdbc_rows"].get(d, 0)
    stage_sum = {}
    for s in res["spans"]:
        if s["name"].startswith("stage."):
            stage_sum[s["run"]] = stage_sum.get(s["run"], 0.0) + (s["end_ns"] - s["start_ns"]) / 1e9
    m["pipeline.orchestration_residual_s"] = (stats.median(untraced) -
                                              stats.median(list(stage_sum.values())))
    traced_wall = sum(o["s"] for o in traced)
    m["engine.busy_ratio"] = stats.busy_ratio(sum(e["task_run_s"] for e in eng.values()),
                                              traced_wall, res["nproc"])
    m["trace.overhead_s"] = stats.median([o["s"] for o in traced]) - stats.median(untraced)
    m["codegen.fallbacks"] = traced_fallbacks(res)
    return untraced, m


def query_metrics(res, trace):
    """An operation of the query mix is one pass over all its queries."""
    execs = [o["s"] for o in res["ops"] if not o["traced"]]
    passes = [p["s"] for p in res["passes"] if not p["traced"]]
    if not trace:
        return passes, {"items_per_s": len(execs) / sum(passes) if passes else 0.0}
    st = stats.self_times(res["spans"])
    eng, m = res["engine"], {}
    for q in QUERIES:
        e = eng.get(f"query.{q}", {})
        m[f"query.{q}.s"] = stats.median([st[s["id"]] for s in res["spans"]
                                          if s["name"] == f"query.{q}"])
        m[f"query.{q}.tasks"] = e.get("tasks", 0)
        m[f"query.{q}.shuffle_bytes"] = e.get("shuffle_bytes", 0)
    m["registry.build_s"] = res["registry_build_s"]
    m["registry.tables"] = res["registry_tables"]
    m["registry.bytes"] = res["registry_bytes"]
    m["mix.exec_p50_s"] = stats.median(execs)
    for q in STREAMS:
        sc = res["streams"].get(f"query.{q}", {})
        m[f"stream.{q}.batches"] = sc.get("batches", 0)
        m[f"stream.{q}.add_batch_ms"] = sc.get("add_batch_ms", 0)
        m[f"stream.{q}.planning_ms"] = sc.get("planning_ms", 0)
        m[f"stream.{q}.wal_commit_ms"] = sc.get("wal_commit_ms", 0)
    traced = [p["s"] for p in res["passes"] if p["traced"]]
    m["engine.busy_ratio"] = stats.busy_ratio(sum(e["task_run_s"] for e in eng.values()),
                                              sum(traced), res["nproc"])
    m["trace.overhead_s"] = stats.median(traced) - stats.median(passes)
    m["codegen.fallbacks"] = traced_fallbacks(res)
    return passes, m


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    a = ap.parse_args()
    started = time.time()
    root = os.getcwd()
    if not os.path.isdir(os.path.join(root, "src", "main", "scala", "graft")):
        sys.stderr.write("run from the repository root: no engine sources under src/main/scala\n")
        return 2
    n_ops = op_count(a.workload, a.seconds, a.trace)
    classes = build.build(root)
    t_build = time.time()
    deadline = t_build + harness_budget_s(a.workload, n_ops)
    work = os.path.join(root, ".bench_work", f"{a.workload}-{a.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    try:
        inputs = os.path.join(work, "inputs")
        cfg = {"workload": a.workload, "inputs": inputs, "work": work, "ops": n_ops,
               "trace": a.trace, "out": os.path.join(work, "result.json")}
        if a.workload == "daily_replay":
            schedule = gen.pipeline(inputs, a.seed, days=1 + n_ops)
            t_gen = time.time()
            res = run_jvm(classes, cfg, work, deadline)
            t_jvm = time.time()
            n_checks, fails, counts = checks.pipeline_checks(
                inputs, res["warehouse"], res["warehouse_once"], n_ops,
                schedule[n_ops]["report_dt"])
            ops, m = pipeline_metrics(res, schedule, a.trace, counts)
        else:
            gen.corpus(inputs, a.seed)
            t_gen = time.time()
            cfg["queries"] = ",".join(QUERIES)
            res = run_jvm(classes, cfg, work, deadline)
            t_jvm = time.time()
            exec_rows = {}
            for o in res["ops"]:
                exec_rows.setdefault(o["query"], []).append(o["rows"])
            n_checks, fails = checks.query_checks(inputs, res["results"], QUERIES, exec_rows)
            ops, m = query_metrics(res, a.trace)
    finally:
        shutil.rmtree(work, ignore_errors=True)
        if not os.listdir(os.path.join(root, ".bench_work")):
            os.rmdir(os.path.join(root, ".bench_work"))

    if a.trace:  # keep the spans and counters for later reading
        trace_dir = os.path.join(root, ".bench_trace")
        os.makedirs(trace_dir, exist_ok=True)
        with open(os.path.join(trace_dir, f"{a.workload}-seed{a.seed}.json"), "w") as f:
            json.dump({k: res[k] for k in ("spans", "engine", "streams", "codegen_fallbacks")}, f)
    fails = res["failures"] + fails
    attempted = len(res["ops"]) + n_checks
    failed = len(fails)
    tail, pct, n = stats.tail(ops)
    if a.trace:
        m.update({"op.samples": n, "op.tail_pct": pct, "fail_ratio": failed / attempted,
                  "heap.peak_after_gc_in_ops_mb": res["peak_after_gc_in_ops_bytes"] / 2**20})
        names = per_layer_names()
        for k, _ in names:
            m.setdefault(k, 0)
    else:
        m.update({"setup_s": res["setup_s"], "op_p50_s": stats.median(ops),
                  "op_tail_s": tail, "peak_live_heap_mb": res["peak_live_heap_bytes"] / 2**20})
        names = END_TO_END
    for f in fails:
        print(f"FAIL {f}")
    print("op times: " + " ".join(f"{o['s']:.2f}" + ("t" if o["traced"] else "")
                                  for o in res.get("passes", res["ops"])))
    if "setup_query_s" in res:
        print("set-up per query: " + " ".join(f"{q}={t:.1f}s" for q, t in res["setup_query_s"].items()))
        for p in res["passes"]:
            print(f"pass {p['pass']} per query: " + " ".join(
                f"{o['query']}={o['s']:.2f}s" for o in res["ops"] if o["pass"] == p["pass"]))
    print(f"{a.workload} seed={a.seed} ops={len(res['ops'])} untraced samples={n} "
          f"tail percentile=p{pct:.0f} checks={n_checks} failed={failed} "
          f"build={t_build - started:.1f}s gen={t_gen - t_build:.1f}s jvm={t_jvm - t_gen:.1f}s "
          f"(setup={res['setup_s']:.1f}s ops={sum(o['s'] for o in res['ops']):.1f}s "
          f"all-at-once={res.get('all_at_once_s', 0):.1f}s) "
          f"checks={time.time() - t_jvm:.1f}s")
    print(json.dumps({"correct": failed == 0, "attempted": attempted, "failed": failed,
                      "metrics": {k: {"value": m[k], "unit": u} for k, u in names}}))
    return 0 if failed == 0 else 1


if __name__ == "__main__":
    sys.exit(main())

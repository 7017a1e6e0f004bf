"""Summary statistics the benchmark reports, kept free of I/O so the
unit tests can pin them."""
import statistics


def median(values):
    return statistics.median(values) if values else 0.0


def tail(values, beyond=10):
    """The highest percentile of `values` that still has at least
    `beyond` samples above it (nearest rank), as (value, percentile, n).

    With n samples sorted ascending, the sample at 1-based rank n-beyond
    is the highest one with `beyond` samples after it; its percentile is
    100 * rank / n. Below 2 * beyond samples that rank falls under the
    median, so the median is returned with percentile 50: a short run
    reports neither its maximum nor a "tail" below its middle."""
    xs = sorted(values)
    n = len(xs)
    if n == 0:
        return 0.0, 0.0, 0
    if n < 2 * beyond:
        return median(xs), 50.0, n
    rank = n - beyond
    return xs[rank - 1], 100.0 * rank / n, n


def self_times(spans):
    """Self time of each span: its duration minus the union of the
    intervals its direct children cover. `spans` are dicts with id,
    parent, start_ns, end_ns. Returns {id: seconds}."""
    children = {}
    for s in spans:
        children.setdefault(s["parent"], []).append(s)
    out = {}
    for s in spans:
        covered, cur_start, cur_end = 0, None, None
        kids = sorted(children.get(s["id"], []), key=lambda c: c["start_ns"])
        for c in kids:
            a, b = max(c["start_ns"], s["start_ns"]), min(c["end_ns"], s["end_ns"])
            if b <= a:
                continue
            if cur_end is None or a > cur_end:
                if cur_end is not None:
                    covered += cur_end - cur_start
                cur_start, cur_end = a, b
            else:
                cur_end = max(cur_end, b)
        if cur_end is not None:
            covered += cur_end - cur_start
        out[s["id"]] = (s["end_ns"] - s["start_ns"] - covered) / 1e9
    return out


def busy_ratio(task_run_s, wall_s, nproc):
    """Share of the available cores spent running tasks:
    sum of task run time / (wall time * cores)."""
    if wall_s <= 0 or nproc <= 0:
        return 0.0
    return task_run_s / (wall_s * nproc)

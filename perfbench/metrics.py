"""Pure functions the benchmark reports with: the tail-percentile rule, the
canonical result hash, span self time, and the end-to-end and per-layer
summaries of one run's raw records (see `Client.scala` for the records)."""
import math
import statistics
import sys
from pathlib import Path

# the canonical result hash is the correctness checker's own
sys.path.insert(0, str(Path(__file__).resolve().parent.parent / "tools"))
from check_correctness import frame_sig  # noqa: E402

PERCENTILES = (50, 75, 90, 95, 99, 99.9)
READS = ("query", "read_full", "read_pruned")
WRITES = ("append", "upsert", "delete")
LOADERS_SITE = "Loaders.scala"


# ── percentiles ─────────────────────────────────────────────────────────
def percentile(values, p):
    """Nearest-rank `p`-th percentile: (value, samples above its rank)."""
    xs = sorted(values)
    if not xs:
        raise ValueError("no samples")
    rank = max(1, math.ceil(p / 100 * len(xs)))
    return xs[rank - 1], len(xs) - rank


def tail(values, min_beyond=10):
    """Highest percentile of PERCENTILES with at least `min_beyond` samples
    above it (nearest-rank). Returns (percentile, value, samples beyond),
    or None when even the median has fewer than `min_beyond` beyond it."""
    xs = sorted(values)
    for p in reversed(PERCENTILES):
        v, beyond = percentile(xs, p)
        if beyond >= min_beyond:
            return p, v, beyond
    return None


# ── spans ────────────────────────────────────────────────────────────────
def covered(start, end, intervals):
    """Length of [start, end) covered by the union of `intervals`."""
    clipped = sorted((max(s, start), min(e, end)) for s, e in intervals if e > start and s < end)
    total, cur_s, cur_e = 0, None, None
    for s, e in clipped:
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def self_time(start, end, children):
    """A span's duration minus the part of it its children cover."""
    return (end - start) - covered(start, end, children)


# ── end-to-end summary ──────────────────────────────────────────────────
def _lat(op):
    return (op["end_ns"] - op["start_ns"]) / 1e9


def _key(op):
    return op["kind"] if op["kind"] != "query" else op["name"]


def op_weights(plan):
    """Operations of each key per pass of the plan: the mix's shape."""
    passes = len({p for _, p, _ in plan}) or 1
    counts = {}
    for kind, _, args in plan:
        k = args[0] if kind == "query" else kind
        counts[k] = counts.get(k, 0) + 1
    return {k: c / passes for k, c in counts.items()}


def mix_seconds(ops, weights):
    """Wall seconds of one pass over the mix, as the sum over operation
    keys of (median latency x operations per pass). A key the window did
    not measure is an error: the window always completes whole passes."""
    by = {}
    for op in ops:
        by.setdefault(_key(op), []).append(_lat(op))
    missing = sorted(set(weights) - set(by))
    if missing:
        raise ValueError(f"no measured operation of {missing}")
    return sum(w * statistics.median(by[k]) for k, w in weights.items())


def end_to_end(ops, setups, run, weights):
    reads = [_lat(o) for o in ops if o["kind"] in READS]
    p50, beyond = percentile(reads, 50)
    # under 20 samples no percentile has ten beyond it; report the median
    t = tail(reads) or (50, p50, beyond)
    passes = len(ops) / sum(weights.values())
    return {
        "setup_s": (statistics.median(s["s"] for s in setups), "s"),
        "mix_s": (mix_seconds(ops, weights), "s"),
        "query_p50_s": (p50, "s"),
        "query_tail_s": (t[1], "s"),
        "cpu_s": (run["cpu_s"] / passes, "s"),
        "peak_rss_mb": (run["rss_peak_mb"], "MB"),
    }, {"query_tail_percentile": t[0], "query_tail_beyond": t[2], "read_samples": len(reads),
        "passes": round(passes, 3), "jit_s": run["jit_s"], "gc_s": run["gc_s"]}


# ── per-layer summary (traced runs) ─────────────────────────────────────
def _spans(op, kind):
    return [s for s in op["spans"] if s["kind"] == kind]


def _dur(spans):
    return sum(s["end_ns"] - s["start_ns"] for s in spans) / 1e9


def coverage(op):
    """Share of an operation's wall time that its spans cover."""
    return _dur(op["spans"]) / _lat(op) if _lat(op) > 0 else 1.0


def _med(xs):
    return statistics.median(xs) if xs else 0.0


def per_layer(ops, jobs, run, weights, delta_table=None, untraced=()):
    """Per-layer metrics of the traced operations `ops`. Counts and times
    are per pass over the mix unless the name says otherwise; a layer the
    workload never enters reads 0. `untraced` are the operations of the
    same run's untraced window, for `trace.overhead_frac`."""
    per_pass = sum(weights.values())
    passes = len(ops) / per_pass if ops else 1.0
    jobs_by_span = {}
    for j in jobs:
        jobs_by_span.setdefault(j["span"], []).append(j)

    def span_jobs(op, kind):
        return jobs_by_span.get(f"{op['idx']}:{kind}", [])

    def jsec(js):
        return sum(max(0, j["end_ns"] - j["start_ns"]) for j in js) / 1e9

    queries = [o for o in ops if o["kind"] == "query"]
    reads = [o for o in ops if o["kind"] in READS]
    dreads = [o for o in ops if o["kind"] in ("read_full", "read_pruned")]
    loader_jobs = [j for j in jobs if LOADERS_SITE in j["callsite"]]
    construct = [j for o in queries for j in span_jobs(o, "build") if LOADERS_SITE not in j["callsite"]]
    driver = 0.0
    for o in queries:
        for s in _spans(o, "build"):
            driver += self_time(s["start_ns"], s["end_ns"],
                                [(j["start_ns"], j["end_ns"]) for j in span_jobs(o, "build")]) / 1e9
    phases = {}
    for o in reads:
        for k, v in o["phases_ms"].items():
            phases[k] = phases.get(k, 0) + v
    exec_jobs = [j for o in reads for j in span_jobs(o, "exec")]
    exec_s = sum(_dur(_spans(o, "exec")) for o in reads)
    task_s = sum(j["task_ms"] for j in exec_jobs) / 1e3
    appends = [o for o in ops if o["kind"] == "append"]
    writes = [o for o in ops if o["kind"] in WRITES]
    plain = [_dur(_spans(o, "write")) for o in appends if o["checkpoints"] <= 0]
    cpt = [_dur(_spans(o, "write")) for o in appends if o["checkpoints"] > 0]
    written = sum(max(0, o["rows"]) for o in appends + [o for o in writes if o["kind"] == "upsert"])
    write_s = sum(_dur(_spans(o, "write")) for o in writes)
    full_rows = [int(o["result"].split(":")[0]) for o in dreads if o["kind"] == "read_full" and o["result"]]
    dt = delta_table or {}
    untraced_mix = mix_seconds(list(untraced), weights) if untraced else 0.0
    m = {
        "loaders.jobs": (len(loader_jobs) / passes, "count"),
        "loaders.job_s": (jsec(loader_jobs) / passes, "s"),
        "builder.driver_s": (driver / passes, "s"),
        "operators.construct_jobs": (len(construct) / passes, "count"),
        "operators.construct_job_s": (jsec(construct) / passes, "s"),
        "operators.construct_task_s": (sum(j["task_ms"] for j in construct) / 1e3 / passes, "s"),
        "catalyst.analysis_ms": (phases.get("analysis", 0) / passes, "ms"),
        "catalyst.optimization_ms": (phases.get("optimization", 0) / passes, "ms"),
        "catalyst.planning_ms": (phases.get("planning", 0) / passes, "ms"),
        "exec.s": (exec_s / passes, "s"),
        "exec.jobs": (len(exec_jobs) / passes, "count"),
        "exec.stages": (sum(j["stages"] for j in exec_jobs) / passes, "count"),
        "exec.tasks": (sum(j["tasks"] for j in exec_jobs) / passes, "count"),
        "exec.task_s": (task_s / passes, "s"),
        "exec.max_task_s": (max([j["max_task_ms"] for j in exec_jobs], default=0) / 1e3, "s"),
        "exec.shuffle_read_mb": (sum(j["shuffle_read_b"] for j in exec_jobs) / 1048576 / passes, "MB"),
        "exec.shuffle_write_mb": (sum(j["shuffle_write_b"] for j in exec_jobs) / 1048576 / passes, "MB"),
        "exec.spill_mb": (sum(j["spill_b"] for j in exec_jobs) / 1048576 / passes, "MB"),
        "exec.failed_tasks": (sum(j["failed_tasks"] for j in jobs), "count"),
        "exec.busy_frac": (task_s / (exec_s * run["cores"]) if exec_s else 0.0, "frac"),
        "delta.commit_s": (_med(plain), "s"),
        "delta.commit_jobs": (_med([len(span_jobs(o, "write")) for o in appends]), "count"),
        "delta.checkpoints": (sum(1 for o in appends if o["checkpoints"] > 0), "count"),
        "delta.checkpoint_commit_s": (_med(cpt), "s"),
        "delta.snapshot_s": (_med([_dur(_spans(o, "build")) for o in dreads]), "s"),
        "delta.snapshot_jobs": (_med([len(span_jobs(o, "build")) for o in dreads]), "count"),
        "delta.scan_s": (_med([_dur(_spans(o, "exec")) for o in dreads]), "s"),
        "delta.upsert_s": (_med([_lat(o) for o in ops if o["kind"] == "upsert"]), "s"),
        "delta.delete_s": (_med([_lat(o) for o in ops if o["kind"] == "delete"]), "s"),
        "delta.write_p50_s": (_med([_lat(o) for o in writes]), "s"),
        "delta.write_rows_per_s": (written / write_s if write_s else 0.0, "1/s"),
        "delta.log_bytes": (dt.get("log_bytes", 0), "B"),
        "delta.files": (dt.get("files", 0), "count"),
        "delta.bytes_per_row": (dt["data_bytes"] / full_rows[-1] if dt and full_rows else 0.0, "B"),
        "jvm.gc_s": (run["gc_s"] / passes, "s"),
        "jvm.jit_s": (run["jit_s"] / passes, "s"),
        "jvm.heap_peak_mb": (run["heap_peak_mb"], "MB"),
        "trace.coverage_min": (min(map(coverage, ops), default=0.0), "frac"),
        "trace.overhead_frac": (mix_seconds(ops, weights) / untraced_mix - 1 if untraced_mix else 0.0, "frac"),
    }
    return m

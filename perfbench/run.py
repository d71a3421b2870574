#!/usr/bin/env python3
"""graft benchmark: one command that builds the checkout, runs one workload
as a closed loop, checks every output, and prints every metric.

    python3 perfbench/run.py --workload relational --seed 1 --seconds 20 --trace 0

Workloads (see perfbench/README.md for why each exists):
  relational  two builder queries in the shape of the reference's criterion
              suite, plus one construction-heavy operator query (k-means)
  delta_rw    appends, full and pruned reads, upserts and deletes on one Delta table

The last line of stdout is one JSON object: {"correct", "attempted",
"failed", "metrics"}. With --trace 0 the metrics are the end-to-end ones;
with --trace 1 they are the per-layer ones. The line before it carries the
run's details (failed_frac with its numerator and denominator, the tail
percentile and its sample count, the environment). Exit status is 0 only
when every operation succeeded and every output was correct.
"""
import argparse
import hashlib
import json
import os
import random
import shutil
import subprocess
import sys
import time
from pathlib import Path

sys.dont_write_bytecode = True
HERE = Path(__file__).resolve().parent
sys.path.insert(0, str(HERE))
import gen  # noqa: E402
try:
    import metrics  # noqa: E402
except ImportError as e:  # the canonical hash lives in the checkout's tools/
    sys.exit(f"[perfbench] error: {e}: run this from a graft checkout")

ROOT = HERE.parent
STATE = HERE / ".work"
DATA_SEED = 42

# two shapes of the reference's criterion suite, plus one construction-heavy
# operator query (seeded Lloyd k-means) so the operators layer is measured;
# every further query adds a cold warm-up of seconds to each run
RELATIONAL = ["q_join_3way", "q_pivot", "q_kmeans"]
# scale of the generated tables, per workload
SCALES = {"relational": 0.01, "delta_rw": 0.05}
DELTA_SLICES = 100
PASSES = 400
WARM_APPENDS = 8
# the first warm pass pays for cold code paths, the second lets the JIT
# settle, so that the window does not start on a falling curve
WARM_PASSES = 2
SETUPS = 5
JAVA_OPENS = ["java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
              "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
              "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
              "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
              "java.base/sun.util.calendar"]


def log(*a):
    print("[perfbench]", *a, file=sys.stderr, flush=True)


class Failure(Exception):
    pass


# ── build ────────────────────────────────────────────────────────────────
def source_stamp():
    """Hash of the name, size and mtime of every build input."""
    h = hashlib.sha256()
    inputs = [ROOT / "build.sbt", HERE / "build.sbt"]
    for d in (ROOT / "src" / "main", ROOT / "project", HERE / "src", HERE / "project"):
        inputs += sorted(p for p in d.rglob("*") if p.is_file() and "target" not in p.parts)
    for p in inputs:
        if p.exists():
            st = p.stat()
            h.update(f"{p.relative_to(ROOT)}:{st.st_size}:{st.st_mtime_ns}\n".encode())
    return h.hexdigest()


def build():
    """Compile graft and the client with sbt (offline) once per source state;
    returns the runtime classpath."""
    if not (ROOT / "build.sbt").is_file() or not (ROOT / "src" / "main" / "scala" / "graft").is_dir():
        raise Failure(f"no graft sources next to {HERE.name}/: nothing to build")
    stamp = source_stamp()
    cp_file = STATE / "classpath.json"
    if cp_file.exists():
        saved = json.loads(cp_file.read_text())
        if saved["stamp"] == stamp:
            return saved["classpath"]
    log("building graft and the benchmark client (sbt, offline)")
    env = dict(os.environ, COURSIER_MODE="offline")
    STATE.mkdir(exist_ok=True)
    env["SBT_OPTS"] = " ".join(["-Dsbt.offline=true", "-Dsbt.override.build.repos=true",
                                "-Dsbt.server.forcestart=false", "-Xmx3g", "-XX:-UsePerfData",
                                f"-Djava.io.tmpdir={STATE}", env.get("SBT_OPTS", "")])
    t0 = time.time()
    p = subprocess.run(["sbt", "--batch", "-Dsbt.log.noformat=true", "-Dsbt.supershell=false",
                        "compile", "export Runtime/fullClasspath"],
                       cwd=HERE, env=env, stdin=subprocess.DEVNULL, capture_output=True,
                       text=True, timeout=840)
    lines = [l for l in p.stdout.splitlines() if "perfbench" in l and not l.startswith("[")]
    if p.returncode != 0 or not lines:
        sys.stderr.write(p.stdout[-4000:] + p.stderr[-4000:])
        raise Failure("sbt build failed")
    classpath = lines[-1].strip()
    cp_file.write_text(json.dumps({"stamp": stamp, "classpath": classpath}))
    log(f"built in {time.time() - t0:.0f}s")
    return classpath


def java(classpath, args, cwd, timeout):
    work_tmp = Path(cwd) / "tmp"
    work_tmp.mkdir(parents=True, exist_ok=True)
    cmd = ["java", *[f"--add-opens={p}=ALL-UNNAMED" for p in JAVA_OPENS],
           # fixed heap and generation sizes, so resident memory follows
           # what the run allocates rather than the collector's resizing
           "-Xms2g", "-Xmx2g", "-XX:+UseParallelGC", "-XX:-UseAdaptiveSizePolicy",
           "-XX:-UsePerfData",
           # C1 only: in a fresh JVM the C2 compiler threads never settle
           # within a run (about 25 s of compile time per 20 s window on 4
           # cores), and how much of that lands in the window varied the
           # per-pass CPU by a fifth from run to run; C1 compiles in ~3 s
           "-XX:TieredStopAtLevel=1",
           f"-Djava.io.tmpdir={work_tmp}", f"-Dspark.local.dir={work_tmp}",
           f"-Dspark.sql.warehouse.dir={Path(cwd) / 'warehouse'}",
           f"-Dderby.system.home={cwd}", "-Dspark.ui.enabled=false",
           "-Dspark.sql.session.timeZone=UTC",
           "-cp", classpath, "perfbench.Client", *args]
    p = subprocess.run(cmd, cwd=cwd, stdin=subprocess.DEVNULL, capture_output=True, text=True,
                       timeout=timeout)
    if p.returncode != 0:
        sys.stderr.write(p.stdout[-3000:] + p.stderr[-6000:])
        raise Failure(f"client exited with {p.returncode}")
    return p


# ── inputs ───────────────────────────────────────────────────────────────
def dataset(scale):
    """Generated tables at `scale`, made once per checkout."""
    stamp = hashlib.sha256((HERE / "gen.py").read_bytes()).hexdigest()[:12]
    d = STATE / "data" / f"s{scale}_{stamp}"
    if not (d / "_done").exists():
        shutil.rmtree(d, ignore_errors=True)
        gen.generate(d, scale, DATA_SEED)
        (d / "_done").write_text("")
    return d


def duck(data_dir):
    import duckdb
    con = duckdb.connect()
    tmp = STATE / "duckdb_tmp"
    tmp.mkdir(parents=True, exist_ok=True)
    con.sql(f"SET temp_directory = '{tmp}'")
    con.sql("SET threads = 4")
    for p in sorted(Path(data_dir).glob("*.parquet")):
        con.sql(f"CREATE VIEW {p.stem} AS SELECT * FROM '{p}'")
    return con


def oracle_hashes(classpath, names, data_dir):
    """Canonical hash of each query's DuckDB oracle over `data_dir`, made
    once per checkout and data set."""
    key = hashlib.sha256(("|".join(names) + str(data_dir) + source_stamp()).encode()).hexdigest()[:16]
    f = STATE / "oracle" / f"{key}.json"
    if f.exists():
        return json.loads(f.read_text())
    f.parent.mkdir(parents=True, exist_ok=True)
    sql_file = f.parent / f"{key}.sql.json"
    java(classpath, ["oracle", str(sql_file), *names], cwd=STATE, timeout=170)
    sqls = json.loads(sql_file.read_text())
    con = duck(data_dir)
    out = {}
    for n in names:
        t0 = time.time()
        rows, cols, h = metrics.frame_sig(con.sql(sqls[n]).df())
        out[n] = {"rows": rows, "cols": cols, "hash": h}
        log(f"oracle {n}: {rows} rows in {time.time() - t0:.1f}s")
    f.write_text(json.dumps(out, indent=1))
    return out


def delta_slices(data_dir):
    """The lineitem table cut into DELTA_SLICES order-key ranges, as
    parquet files next to it; returns [(file, lo, hi, rows)]."""
    import pyarrow.parquet as pq
    import pyarrow.compute as pc
    li = pq.read_table(Path(data_dir) / "lineitem.parquet")
    keys = li.column("l_orderkey")
    top = pc.max(keys).as_py() + 1
    step = -(-top // DELTA_SLICES)
    out = []
    for i in range(DELTA_SLICES):
        lo, hi = i * step, min(top, (i + 1) * step)
        f = Path(data_dir) / "slices" / f"slice_{i:03d}.parquet"
        if not f.exists():
            f.parent.mkdir(exist_ok=True)
            mask = pc.and_(pc.greater_equal(keys, lo), pc.less(keys, hi))
            pq.write_table(li.filter(mask), f)
        out.append((f"slices/{f.name}", lo, hi, pq.read_metadata(f).num_rows))
    return out


# ── plans ────────────────────────────────────────────────────────────────
def query_plan(names, rng, passes):
    plan = []
    for p in range(passes):
        order = list(names)
        rng.shuffle(order)
        plan += [("query", p, [n]) for n in order]
    return plan


def delta_plan(slices, rng, upd_dir, data_dir, passes):
    """Base slice; a warm-up of WARM_APPENDS appends and one of each other
    operation, ten commits in all, the last of which writes the table's
    first checkpoint (a cold path that would otherwise swamp the window);
    then per pass one of each operation: an append, a full read, a pruned
    read, an upsert and a delete, so that every pass is a whole cycle of
    the mix. Returns (base slice file, warm-up ops, measured ops)."""
    import pyarrow.compute as pc
    import pyarrow.parquet as pq
    order = list(range(len(slices)))
    rng.shuffle(order)
    present = [order.pop()]

    def append(p):
        s = order.pop()
        present.append(s)
        return ("append", p, [slices[s][0], str(slices[s][3])])

    def pruned(p):
        _, lo, hi, _ = slices[rng.choice(present)]
        return ("read_pruned", p, [f"l_orderkey >= {lo} AND l_orderkey < {hi}"])

    def upsert(p):
        t = pq.read_table(Path(data_dir) / slices[rng.choice(present)][0])
        upd = t.take(sorted(rng.sample(range(t.num_rows), min(200, t.num_rows))))
        upd = upd.set_column(upd.schema.get_field_index("l_quantity"), "l_quantity",
                             pc.add(upd.column("l_quantity"), 1.0))
        f = upd_dir / f"upsert_{p}.parquet"
        f.parent.mkdir(parents=True, exist_ok=True)
        pq.write_table(upd, f)
        return ("upsert", p, [str(f), str(upd.num_rows)])

    def delete(p):
        _, lo, hi, _ = slices[rng.choice(present)]
        a = rng.randrange(lo, hi)
        return ("delete", p, [f"l_orderkey >= {a} AND l_orderkey < {a + 40}"])

    warm = [append(-1) for _ in range(WARM_APPENDS)]
    warm += [upsert(-1), delete(-1), ("read_full", -1, []), pruned(-1)]
    plan = []
    for p in range(min(passes, len(order))):
        plan += [append(p), ("read_full", p, []), pruned(p), upsert(p), delete(p)]
    return slices[present[0]][0], warm, plan


def write_plan(path, plan):
    path.write_text("".join("\t".join([k, str(p), *a]) + "\n" for k, p, a in plan))


# ── checks ───────────────────────────────────────────────────────────────
def check_queries(ops, checks, expected):
    """Each query op is correct when it did not throw, its in-run
    fingerprint equals the fingerprint of the result written out after the
    window, and that written result hash-matches the DuckDB oracle."""
    import duckdb
    verdict = {}
    for c in checks:
        n = c["name"]
        if c.get("error"):
            verdict[n] = (False, c["error"])
            continue
        df = duckdb.sql(f"SELECT * FROM '{c['dir']}/*.parquet'").df()
        rows, cols, h = metrics.frame_sig(df)
        e = expected[n]
        ok = (rows, cols, h) == (e["rows"], e["cols"], e["hash"])
        verdict[n] = (ok, f"{rows} rows" if ok else f"oracle mismatch: rows {rows} vs {e['rows']}, "
                      f"cols {cols} vs {e['cols']}, hash {h[:12]} vs {e['hash'][:12]}")
        verdict[n] += (c["result"],)
    bad = []
    for op in ops:
        v = verdict.get(op["name"])
        if op["error"]:
            bad.append((op["idx"], op["name"], op["error"]))
        elif v is None or not v[0]:
            bad.append((op["idx"], op["name"], v[1] if v else "no result check"))
        elif op["result"] != v[2]:
            bad.append((op["idx"], op["name"], f"fingerprint {op['result']} != checked {v[2]}"))
    return bad


def check_delta(ops, base_file, data_dir):
    """Replays the executed operations in DuckDB on the source parquet and
    compares every read's checksum (rows, key sums, cent sums)."""
    import duckdb
    con = duckdb.connect()
    con.sql(f"CREATE TABLE t AS SELECT * FROM '{data_dir / base_file}'")
    checksum = ("SELECT count(*), coalesce(sum(l_orderkey), 0), coalesce(sum(l_linenumber), 0), "
                "coalesce(sum(CAST(round(l_quantity * 100) AS BIGINT)), 0), "
                "coalesce(sum(CAST(round(l_extendedprice * 100) AS BIGINT)), 0) FROM t")
    bad = []
    for op in ops:
        k, a = op["kind"], op["args"]
        if k == "append":
            con.sql(f"INSERT INTO t SELECT * FROM '{data_dir / a[0]}'")
        elif k == "upsert":
            u = a[0]
            con.sql(f"DELETE FROM t WHERE (l_orderkey, l_linenumber) IN "
                    f"(SELECT (l_orderkey, l_linenumber) FROM '{u}')")
            con.sql(f"INSERT INTO t SELECT * FROM '{u}'")
        elif k == "delete":
            n = con.sql(f"SELECT count(*) FROM t WHERE {a[0]}").fetchone()[0]
            con.sql(f"DELETE FROM t WHERE {a[0]}")
            if op["error"] is None and op["rows"] < 0:
                bad.append((op["idx"], k, f"delete reported {op['rows']} (expected {n} rows gone)"))
        if op["error"]:
            bad.append((op["idx"], k, op["error"]))
        elif k in ("read_full", "read_pruned"):
            q = checksum + (f" WHERE {a[0]}" if k == "read_pruned" else "")
            want = ":".join(str(v) for v in con.sql(q).fetchone())
            if op["result"] != want:
                bad.append((op["idx"], k, f"checksum {op['result']} != {want}"))
    return bad


# ── main ─────────────────────────────────────────────────────────────────
def loadavg():
    try:
        return " ".join(Path("/proc/loadavg").read_text().split()[:3])
    except OSError:
        return "n/a"


def git_commit():
    try:
        return subprocess.run(["git", "rev-parse", "HEAD"], cwd=ROOT, capture_output=True,
                              text=True, timeout=10).stdout.strip() or "n/a"
    except (OSError, subprocess.SubprocessError):
        return "n/a"


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=list(SCALES))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--plant", choices=("wrong-hash", "throw"),
                    help="self-test: corrupt one expected hash, or add a query that throws")
    args = ap.parse_args()
    load_start = loadavg()
    cores = os.cpu_count() or 1
    try:
        classpath = build()
        scale = SCALES[args.workload]
        data = dataset(scale)
        run_dir = STATE / f"run_{args.workload}"
        shutil.rmtree(run_dir, ignore_errors=True)
        run_dir.mkdir(parents=True)
        rng = random.Random(args.seed)
        client_args = {}
        if args.workload == "delta_rw":
            base, warm_plan, plan = delta_plan(delta_slices(data), rng, run_dir / "updates",
                                               data, PASSES)
            client_args.update(base=base)
            first = [("read_full", -1, [])]
            expected = None
        else:
            names = RELATIONAL
            expected = oracle_hashes(classpath, names, data)
            plan = query_plan(names, rng, PASSES)
            warm_plan = query_plan(names, random.Random(0), WARM_PASSES)
            first = [("query", -1, [names[0]])]
            if args.plant == "throw":
                plan.insert(1, ("query", plan[0][1], ["q_planted_missing_query"]))
            if args.plant == "wrong-hash":
                expected = dict(expected, **{names[0]: dict(expected[names[0]], hash="0" * 64)})
        write_plan(run_dir / "plan.tsv", plan)
        write_plan(run_dir / "warm.tsv", warm_plan)
        write_plan(run_dir / "first.tsv", first)
        out = run_dir / "records.jsonl"
        client_args.update(workload=args.workload, cores=cores, trace=args.trace, work=run_dir,
                           plan=run_dir / "plan.tsv", warm_plan=run_dir / "warm.tsv",
                           first_plan=run_dir / "first.tsv", out=out, data=data,
                           seconds=args.seconds, setups=SETUPS)
        java(classpath, ["run", *[f"{k}={v}" for k, v in client_args.items()]], cwd=run_dir,
             timeout=170)
        recs = [json.loads(l) for l in out.read_text().splitlines()]
    except (Failure, subprocess.TimeoutExpired) as e:
        log(f"error: {e}")
        return 2

    checked = [r for r in recs if r["rec"] == "op"]
    ops = [r for r in checked if r["phase"] == "measure"]
    setups = [r for r in recs if r["rec"] == "setup"]
    run = next(r for r in recs if r["rec"] == "run")
    if any(r["rec"] == "plan_exhausted" for r in recs):
        log("error: the plan ran out before the time did")
        return 2
    if args.workload == "delta_rw":
        bad = check_delta(checked, base, data)
    else:
        bad = check_queries(checked, [r for r in recs if r["rec"] == "check"], expected)
    if args.trace == 1:
        # the "layers add up" bar: a traced operation whose spans leave more
        # than 5% of its wall time unattributed is a failed measurement
        bad += [(o["idx"], o["name"] or o["kind"], f"spans cover {metrics.coverage(o):.3f} of its time")
                for o in ops if o["traced"] and metrics.coverage(o) < 0.95]
    for b in bad[:20]:
        log("FAILED op", *b)
    failed_ops = {b[0] for b in bad}
    weights = metrics.op_weights(plan)
    detail = {"workload": args.workload, "seed": args.seed, "seconds": args.seconds,
              "trace": args.trace, "attempted": len(checked), "failed": len(failed_ops),
              "failed_frac": len(failed_ops) / max(1, len(checked)), "nproc": cores,
              "loadavg_start": load_start, "loadavg_end": loadavg(), "spark": run["spark"],
              "jvm": run["jvm"], "data": {"scale": scale, "seed": DATA_SEED, "dir": str(data.relative_to(ROOT))},
              "commit": git_commit(), "setup_reps_s": [round(s["s"], 4) for s in setups],
              "jvm_boot_s": round(next(r["s"] for r in recs if r["rec"] == "boot"), 4),
              "warm_s": round(next(r["s"] for r in recs if r["rec"] == "warm"), 4)}
    good = [o for o in ops if o["idx"] not in failed_ops]
    m = {}
    try:
        if args.trace == 0:
            m, extra = metrics.end_to_end(good, setups, run, weights)
        else:
            traced = [o for o in good if o["traced"]]
            m = metrics.per_layer(traced, [r for r in recs if r["rec"] == "job"], run, weights,
                                  next((r for r in recs if r["rec"] == "delta_table"), None),
                                  untraced=[o for o in good if not o["traced"]])
            extra = {"ops_traced": len(traced)}
        detail.update(extra)
    except ValueError as e:
        # an operation key without one successful measurement: possible only
        # when operations failed, which the result below reports
        if not bad:
            raise
        log(f"no metrics: {e}")
    print(json.dumps(detail))
    print(json.dumps({"correct": not bad, "attempted": len(checked), "failed": len(failed_ops),
                      "metrics": {k: {"value": v, "unit": u} for k, (v, u) in m.items()}}))
    return 0 if not bad else 1


if __name__ == "__main__":
    sys.exit(main())

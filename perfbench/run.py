#!/usr/bin/env python3
"""Cron-tick and operator-mix benchmark.

Run from the root of a checkout:

    python3 perfbench/run.py --workload tick_small --seed 1 --seconds 20 --trace 0

Workloads (see README.md in this directory):
  tick_small  steady-state cron: ~100-row ticks on a 100k-row sink, an
              analyst read after each tick
  query_mix   passes over seven registry queries on the fixture tables in
              perfbench/fixture

The first run in a checkout compiles the program and the benchmark driver
with sbt (perfbench/build.sbt); later runs reuse the build. The JVM runs the
workload and writes a raw record; this script checks the outputs, computes
the metrics and prints one JSON line as the last line of stdout. --trace 1
reports per-layer metrics instead of end-to-end ones and writes the spans
as JSONL next to the result file under .bench_build/results.
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

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
sys.dont_write_bytecode = True  # leave no caches in the checkout

import metrics as M  # noqa: E402

# One query per ops module; a wider mix does not fit a run (see README.md).
MIX_QUERIES = [
    "q310_kcore_peeling", "q339_star_contraction_components",
    "q146_sketch_merge", "q44_lsh_ann_pairs", "q151_weighted_median",
    "q263_url_canonicalization", "q03_join_agg",
]
MODULES = ["GraphOps", "PipelineOps", "Dedup", "Similarity", "Analytics",
           "TextAnalysis", "Relational"]

# Workload sizes. Delta sizes and query orders come from the seed only.
TICK_SMALL = dict(sink_rows=100_000, delta=(80, 120), max_ticks=2000,
                  min_ticks=20, setup_reps=3, warm_ticks=2)
# Two timed passes: a traced run traces each query in one of them. A third
# pass did not narrow the spreads and cost a tenth of the run (README.md).
MIX = dict(max_passes=50, min_passes=2)
# The repo's 0.01 correctness fixture, the tables the seven queries read.
FIXTURE = os.path.join(HERE, "fixture")

END_TO_END = [
    ("setup_s", "s"), ("tick_cost_p50", "ref"), ("tick_cost_tail", "ref"),
    ("rows_per_cost", "rows/ref"),
    ("read_cost_p50", "ref"), ("write_amp", "ratio"), ("space_amp", "ratio"),
    ("mix_pass_cost", "ref"),
    ("peak_heap_mb", "MB"),
]
SPARK_KEYS = [
    ("jobs", "count"), ("stages", "count"), ("tasks", "count"),
    ("job_span_s", "s"), ("driver_only_s", "s"), ("scheduler_delay_s", "s"),
    ("executor_run_s", "s"), ("executor_cpu_s", "s"), ("gc_s", "s"),
    ("shuffle_read_bytes", "bytes"), ("shuffle_write_bytes", "bytes"),
    ("spill_bytes", "bytes"),
]
PER_LAYER = (
    [("etl.watermark_s", "s"), ("etl.resolve_s", "s"),
     ("sources.watermark_files_opened", "count"),
     ("sources.source_scan_s", "s"), ("sources.source_rows_returned", "count"),
     ("sources.append_s", "s"), ("sources.commit_s", "s"),
     ("sources.files_live", "count"), ("sources.manifest_bytes", "bytes"),
     ("sources.bytes_per_tick", "bytes"), ("sources.staged_orphans", "count"),
     ("sources.read_s", "s"), ("sources.read_files_opened", "count"),
     ("plans.analysis_s", "s"), ("plans.optimization_s", "s"),
     ("plans.planning_s", "s")]
    + [(f"spark.{k}", u) for k, u in SPARK_KEYS]
    + [(f"ops.{m}.s", "s") for m in MODULES]
    + [(f"{q}.{k}", u) for q in MIX_QUERIES
       for k, u in (("s", "s"), ("jobs", "count"), ("driver_only_s", "s"))]
    + [("trace.op_traced_s", "s"), ("trace.op_untraced_s", "s"),
       ("trace.overhead_s", "s"), ("trace.glue_s", "s")]
)

ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]
# The JVM gets the run length twice over (the mix may finish a pass that
# starts inside the window) plus a fixed margin for set-up and checks.
JVM_MARGIN_S = 150
JVM_HEAP = "1536m"


def cpu_times():
    """Aggregate CPU jiffies from /proc/stat (empty where unavailable)."""
    try:
        with open("/proc/stat") as fh:
            return [int(x) for x in fh.readline().split()[1:]]
    except OSError:
        return []


def steal_share(before, after):
    """Share of CPU time the hypervisor took from this machine between two
    /proc/stat samples: time a run waited that no layer can account for."""
    d = [b - a for a, b in zip(before, after)]
    return d[7] / sum(d) if len(d) > 7 and sum(d) else 0.0


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def fail(msg, code=2):
    log(msg)
    sys.exit(code)


# ---- build ------------------------------------------------------------------

def source_digest(root):
    h = hashlib.sha1()
    trees = [os.path.join(root, "src", "main"), os.path.join(HERE, "src")]
    files = [os.path.join(HERE, "build.sbt"),
             os.path.join(HERE, "project", "build.properties")]
    for t in trees:
        for d, _, names in os.walk(t):
            files += [os.path.join(d, n) for n in names]
    for f in sorted(files):
        h.update(os.path.relpath(f, root).encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()


def build(root, state):
    classes = os.path.join(state, "sbt", "scala-2.13", "classes")
    stamp = os.path.join(state, "build.stamp")
    digest = source_digest(root)
    if os.path.isdir(classes) and os.path.exists(stamp):
        with open(stamp) as fh:
            if fh.read().strip() == digest:
                return classes
    env = dict(os.environ, SPARK_HOME=spark_home())
    env.setdefault("COURSIER_MODE", "offline")
    repos = os.path.expanduser("~/.sbt/repositories")
    if "SBT_OPTS" not in env and os.path.exists(repos):
        env["SBT_OPTS"] = ("-Xmx2g -Dsbt.override.build.repos=true "
                           f"-Dsbt.repository.config={repos} -Dsbt.offline=true")
    log("building the program and the benchmark driver with sbt")
    t0 = time.time()
    r = subprocess.run(["sbt", "--batch", "-Dsbt.log.noformat=true",
                        "-Dsbt.server.forcestart=false", "compile"],
                       cwd=HERE, env=env, stdout=sys.stderr, stderr=sys.stderr)
    if r.returncode != 0 or not os.path.isdir(classes):
        fail("build failed")
    with open(stamp, "w") as fh:
        fh.write(digest)
    log(f"build took {time.time() - t0:.1f}s")
    return classes


def spark_home():
    """SPARK_HOME, or the installation whose spark-submit is on PATH."""
    home = os.environ.get("SPARK_HOME")
    if not home and shutil.which("spark-submit"):
        home = os.path.dirname(os.path.dirname(
            os.path.realpath(shutil.which("spark-submit"))))
    if not home or not os.path.isdir(os.path.join(home, "jars")):
        fail("no Spark installation: set SPARK_HOME")
    return home


# ---- plans ------------------------------------------------------------------

def make_plan(workload, seed, seconds, trace, cpus, work):
    rng = random.Random(f"{workload}:{seed}")
    plan = {"workload": workload, "seed": seed, "seconds": seconds,
            "trace": bool(trace), "cpus": cpus, "work": work}
    if workload == "tick_small":
        w = TICK_SMALL
        plan["ticks"] = {
            "sink_rows": w["sink_rows"],
            "deltas": [rng.randint(*w["delta"]) for _ in range(w["max_ticks"])],
            "min_ticks": w["min_ticks"],
            "setup_reps": w["setup_reps"], "warm_ticks": w["warm_ticks"],
        }
    else:
        orders = []
        for _ in range(MIX["max_passes"] + 1):
            o = list(MIX_QUERIES)
            rng.shuffle(o)
            orders.append(o)
        plan["mix"] = {"orders": orders, "min_passes": MIX["min_passes"],
                       "data": FIXTURE}
    return plan


# ---- checks -----------------------------------------------------------------

def check_ticks(plan, raw, spans):
    """Per-operation and whole-table output checks; returns
    (attempted, failed, problems)."""
    t = plan["ticks"]
    res = raw["result"]
    problems = []
    ticks = [s for s in spans if s["name"] == "tick"]
    reads = {s["op"]: s for s in spans if s["name"] == "read"}
    rows = t["sink_rows"]
    attempted = failed = 0
    for s in sorted(ticks, key=lambda s: s["op"]):
        k = s["op"]
        rows += t["deltas"][k]
        a = s["attrs"]
        attempted += 1
        if "error" in a or a.get("appended") != t["deltas"][k]:
            failed += 1
            problems.append(f"tick {k}: appended {a.get('appended')} of "
                            f"{t['deltas'][k]} ({a.get('error', 'no error')})")
        r = reads.get(k)
        attempted += 1
        want = M.charge_code_counts(rows)
        if r is None or "error" in r["attrs"] or r["attrs"].get("counts") != want:
            failed += 1
            problems.append(f"read {k}: {r and r['attrs']} != {want}")
    final = res["final"]
    want = {"rows": rows, "distinct_po": rows, "min_po": M.po_number(0),
            "max_po": M.po_number(rows - 1)}
    attempted += 1
    if final != want:
        failed += 1
        problems.append(f"final table {final} != {want}")
    return attempted, failed, problems


def compare_frames(got, exp):
    """The repo's oracle-compare rules: same sorted column names, same numpy
    dtype kind per column, same row count, equal values after sorting rows
    by every column. Returns None or a description of the first mismatch."""
    gcols, ecols = sorted(got.columns), sorted(exp.columns)
    if gcols != ecols:
        return f"schema {gcols} vs oracle {ecols}"

    def kind(s):
        k = s.dtype.kind
        return "i" if k in ("i", "u") else k
    bad = [c for c in gcols if kind(got[c]) != kind(exp[c])]
    if bad:
        return f"dtype kind differs on {bad}"
    if len(got) != len(exp):
        return f"rowcount {len(got)} vs oracle {len(exp)}"
    g = got[gcols].sort_values(gcols, kind="mergesort").reset_index(drop=True)
    e = exp[ecols].sort_values(ecols, kind="mergesort").reset_index(drop=True)
    for c in gcols:
        gv, ev = g[c], e[c]
        try:
            eq = (gv == ev) | (gv.isna() & ev.isna())
        except Exception:
            eq = gv.astype(str) == ev.astype(str)
        if not eq.all():
            i = int((~eq).idxmax())
            return f"col {c} row {i}: got={gv.iloc[i]!r} oracle={ev.iloc[i]!r}"
    return None


def check_mix(plan, raw, spans):
    import duckdb
    res = raw["result"]
    data = plan["mix"]["data"]
    out = os.path.join(plan["work"], "out")
    problems = []
    con = duckdb.connect()
    for f in sorted(os.listdir(data)):
        if f.endswith(".parquet"):
            con.sql(f"CREATE VIEW {f[:-8]} AS SELECT * FROM '{data}/{f}'")
    attempted = failed = 0
    for q in plan["mix"]["orders"][0]:
        attempted += 1
        err = res["check_errors"].get(q)
        if err is None:
            try:
                got = con.sql(f"SELECT * FROM '{out}/{q}/*.parquet'").df()
                if q in res["oracle"]:
                    err = compare_frames(got, con.sql(res["oracle"][q]).df())
                elif len(got) == 0:
                    err = "no rows (no oracle: rows-only check)"
            except Exception as e:  # unreadable output or oracle error
                err = str(e)[:300]
        if err:
            failed += 1
            problems.append(f"{q}: {err}")
    con.close()
    for s in spans:
        if s["name"].startswith("query:"):
            attempted += 1
            if "error" in s["attrs"]:
                failed += 1
                problems.append(f"{s['name']} pass {s['op']}: {s['attrs']['error']}")
    return attempted, failed, problems


# ---- metrics ----------------------------------------------------------------

def dur(s):
    return (s["end_ns"] - s["start_ns"]) / 1e9


def cpu(s):
    """CPU seconds the JVM spent while the span was open (all threads)."""
    return s["cpu_ns"] / 1e9


def tick_metrics(plan, raw, spans, setup_s, ref):
    """End-to-end metrics of a tick run. Costs are CPU seconds over `ref`,
    the median CPU seconds of the reference computation in the same run."""
    t = plan["ticks"]
    res = raw["result"]
    ticks = sorted((s for s in spans if s["name"] == "tick"),
                   key=lambda s: s["op"])
    reads = [s for s in sorted(spans, key=lambda s: s["op"]) if s["name"] == "read"]
    cost = [cpu(s) for s in ticks]
    read_cost = [cpu(s) for s in reads]
    k = t["min_ticks"]
    snaps = res["snapshots"]
    written = sum(M.changed_bytes(a, b) for a, b in zip(snaps, snaps[1:]))
    lo = t["sink_rows"]
    hi = lo + sum(t["deltas"][:k])
    p, tail, n = M.tail_percentile(cost)
    by_op = {s["op"]: cpu(s) for s in reads}
    cycles = [cpu(s) + by_op.get(s["op"], 0.0) for s in ticks]
    e2e = {
        "setup_s": setup_s,
        "tick_cost_p50": M.median(cost) / ref,
        "tick_cost_tail": tail / ref,
        "rows_per_cost": sum(s["attrs"].get("appended", 0) for s in ticks) * ref / sum(cost),
        "read_cost_p50": M.median(read_cost) / ref,
        "write_amp": written / M.cell_bytes(lo, hi),
        "space_amp": M.dir_bytes(snaps[-1]) / M.cell_bytes(0, hi),
        "mix_pass_cost": M.median(cycles) / ref,
    }
    info = {"tick_cpu_p50_s": M.median(cost), "read_cpu_p50_s": M.median(read_cost),
            "tick_cpu_s": cost, "read_cpu_s": read_cost,
            "tick_wall_s": [dur(s) for s in ticks],
            "read_wall_s": [dur(s) for s in reads],
            "tick_wall_p50_s": M.median([dur(s) for s in ticks]),
            "read_wall_p50_s": M.median([dur(s) for s in reads]),
            "ticks": len(ticks), "tail_percentile": p, "tail_samples": n,
            "window_ticks": k, "tick_growth": M.growth(cycles[:k]),
            "bytes_written_window": written}
    return e2e, info


def output_sizes(out, failed):
    """Rows, UTF-8 cell bytes and on-disk bytes of the check pass's outputs:
    every file the writes created, and the parquet data files alone. Queries
    in `failed` are skipped: an aborted write may leave a directory behind
    without data files."""
    import duckdb
    sizes = {"rows": 0, "cell_bytes": 0, "all_bytes": 0, "data_bytes": 0}
    con = duckdb.connect()
    for q in sorted(os.listdir(out)):
        d = os.path.join(out, q)
        if q in failed or not any(f.endswith(".parquet") for f in os.listdir(d)):
            continue
        for f in os.listdir(d):
            b = os.path.getsize(os.path.join(d, f))
            sizes["all_bytes"] += b
            if f.endswith(".parquet"):
                sizes["data_bytes"] += b
        rel = con.sql(f"SELECT * FROM '{d}/*.parquet'")
        cells = " + ".join(
            f'coalesce(strlen(CAST("{c}" AS VARCHAR)), 0)' for c in rel.columns)
        n, b = con.sql(f"SELECT count(*), coalesce(sum({cells}), 0) FROM rel").fetchone()
        sizes["rows"] += n
        sizes["cell_bytes"] += int(b)
    con.close()
    return sizes


def mix_metrics(plan, raw, spans, setup_s, sizes, ref):
    qs = sorted((s for s in spans if s["name"].startswith("query:")),
                key=lambda s: s["start_ns"])
    passes, wall = {}, {}
    for s in qs:
        passes.setdefault(s["op"], []).append(cpu(s))
        wall.setdefault(s["op"], []).append(dur(s))
    pass_cost = [sum(v) for _, v in sorted(passes.items())]
    by_q = {}
    for s in qs:
        by_q.setdefault(s["name"].split(":", 1)[1], []).append(cpu(s))
    first = {s["name"].split(":", 1)[1]: dur(s)
             for s in spans if s["name"].startswith("check:")}
    # one cost per query, summarised by their geometric mean: the median of
    # seven queries jumps between queries and spread 0.12 over ten seeds,
    # the geometric mean 0.06
    typical = M.geomean([M.median(v) for v in by_q.values()])
    p, tail, n = M.tail_percentile([x for v in by_q.values() for x in v])
    e2e = {
        "setup_s": setup_s,
        "tick_cost_p50": typical / ref,
        "tick_cost_tail": tail / ref,
        "rows_per_cost": sizes["rows"] * len(pass_cost) * ref / sum(pass_cost),
        "read_cost_p50": typical / ref,
        "write_amp": sizes["all_bytes"] / sizes["cell_bytes"],
        "space_amp": sizes["data_bytes"] / sizes["cell_bytes"],
        "mix_pass_cost": M.median(pass_cost) / ref,
    }
    info = {"pass_cpu_p50_s": M.median(pass_cost), "pass_cpu_s": pass_cost,
            "pass_wall_s": [sum(v) for _, v in sorted(wall.items())],
            "executions": len(qs), "tail_percentile": p, "tail_samples": n,
            "query_first_wall_s": first, "query_cpu_s": by_q}
    return e2e, info


def attribute(items, span, key):
    """Listener records whose start (epoch ms under `key`) falls in span."""
    return [x for x in items if M.within(x[key] * 1_000_000, span)]


def spark_totals(jobs, span):
    js = attribute(jobs, span, "submit_ms")
    wall = dur(span)
    union = M.union_length([(j["submit_ms"], max(j["end_ms"], j["submit_ms"]))
                            for j in js]) / 1e3
    return {
        "jobs": len(js), "stages": sum(j["stages"] for j in js),
        "tasks": sum(j["tasks"] for j in js), "job_span_s": union,
        "driver_only_s": max(0.0, wall - union),
        "scheduler_delay_s": sum(j["sched_ms"] for j in js) / 1e3,
        "executor_run_s": sum(j["run_ms"] for j in js) / 1e3,
        "executor_cpu_s": sum(j["cpu_ns"] for j in js) / 1e9,
        "gc_s": sum(j["gc_ms"] for j in js) / 1e3,
        "shuffle_read_bytes": sum(j["shuffle_read"] for j in js),
        "shuffle_write_bytes": sum(j["shuffle_write"] for j in js),
        "spill_bytes": sum(j["spill"] for j in js),
    }


def plan_totals(plans, span):
    ps = attribute(plans, span, "start_ms")
    return {k: sum(p[f"{k}_ms"] for p in ps) / 1e3
            for k in ("analysis", "optimization", "planning")}


def layer_table(spans, roots, label):
    """Self time per layer over the traced operations' span trees. A root
    span's own self time goes to the layer `label` names for it."""
    ids = {s["id"] for s in roots}
    tree = [s for s in spans if s["id"] in ids or s["parent"] in ids]
    st = M.self_times(tree)
    rows = {}
    for s in tree:
        r = rows.setdefault(label(s) if s["id"] in ids else s["name"],
                            {"count": 0, "self_s": 0.0})
        r["count"] += 1
        r["self_s"] += st[s["id"]] / 1e9
    wall = sum(dur(s) for s in roots)
    for r in rows.values():
        r["share"] = r["self_s"] / wall if wall else 0.0
    return rows, wall


def per_layer(plan, raw, spans):
    """Per-layer metrics: medians over the traced operations (a tick, or a
    pass of the mix). Layers the workload does not exercise stay 0."""
    out = {name: 0.0 for name, _ in PER_LAYER}
    jobs, res = raw["jobs"], raw["result"]
    if "ticks" in plan:
        ops = [s for s in spans if s["name"] == "tick" and "error" not in s["attrs"]]

        def per_op(ss, f):
            return M.median([f(s) for s in ss])
    else:
        ops = [s for s in spans if s["name"].startswith("query:")]

        def per_op(ss, f):
            # a pass: each query once, at the median of its executions
            by_q = {}
            for s in ss:
                by_q.setdefault(s["name"], []).append(f(s))
            return sum(M.median(v) for v in by_q.values())
    roots = [s for s in ops if s["attrs"]["traced"]]
    untraced = [s for s in ops if not s["attrs"]["traced"]]

    out["trace.op_traced_s"] = per_op(roots, dur)
    out["trace.op_untraced_s"] = per_op(untraced, dur)
    out["trace.overhead_s"] = out["trace.op_traced_s"] - out["trace.op_untraced_s"]
    # scheduler, executor and planning totals per traced operation
    sp = {s["id"]: spark_totals(jobs, s) for s in roots}
    pl = {s["id"]: plan_totals(raw["plans"], s) for s in roots}
    for k, _ in SPARK_KEYS:
        out[f"spark.{k}"] = per_op(roots, lambda s: sp[s["id"]][k])
    for k in ("analysis", "optimization", "planning"):
        out[f"plans.{k}_s"] = per_op(roots, lambda s: pl[s["id"]][k])

    if "ticks" not in plan:
        modules = res["modules"]
        per_q = {}
        for s in roots:
            per_q.setdefault(s["name"].split(":", 1)[1], []).append(s)
        for q, ss in per_q.items():
            out[f"{q}.s"] = M.median([dur(s) for s in ss])
            out[f"{q}.jobs"] = M.median([sp[s["id"]]["jobs"] for s in ss])
            out[f"{q}.driver_only_s"] = M.median(
                [sp[s["id"]]["driver_only_s"] for s in ss])
            out[f"ops.{modules[q]}.s"] += out[f"{q}.s"]
        table, total = layer_table(
            spans, roots, lambda s: f"ops.{modules[s['name'].split(':', 1)[1]]}")
        return out, table, total

    kids = {}
    for s in spans:
        kids.setdefault(s["parent"], {})[s["name"]] = s

    def med(name, f=dur):
        return M.median([f(kids[t["id"]][name]) for t in roots
                         if name in kids.get(t["id"], {})])

    def commit(s):
        ends = [j["end_ms"] for j in attribute(jobs, s, "submit_ms")]
        return (s["end_ns"] / 1e6 - max(ends)) / 1e3 if ends else 0.0
    out["etl.watermark_s"] = med("etl.watermark")
    out["etl.resolve_s"] = med("etl.resolve")
    out["sources.watermark_files_opened"] = med(
        "etl.watermark", lambda s: s["attrs"].get("files_opened", 0))
    out["sources.source_scan_s"] = med("sources.source_scan")
    out["sources.source_rows_returned"] = med(
        "sources.source_scan", lambda s: s["attrs"].get("rows", 0))
    out["sources.append_s"] = med("sources.append")
    out["sources.commit_s"] = med("sources.append", commit)
    for k in ("files_live", "manifest_bytes", "staged_orphans"):
        out[f"sources.{k}"] = res["table"][k]
    snaps = res["snapshots"]
    out["sources.bytes_per_tick"] = M.median(
        [M.changed_bytes(a, b) for a, b in zip(snaps, snaps[1:])])
    traced_ops = {t["op"] for t in roots}
    reads = [s for s in spans if s["name"] == "read" and s["op"] in traced_ops]
    out["sources.read_s"] = M.median([dur(s) for s in reads])
    out["sources.read_files_opened"] = M.median(
        [s["attrs"].get("files_opened", 0) for s in reads])
    table, total = layer_table(spans, roots, lambda s: "tick outside the calls")
    out["trace.glue_s"] = (table["tick outside the calls"]["self_s"] / len(roots)
                           if roots else 0.0)
    return out, table, total


# ---- main -------------------------------------------------------------------

def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True,
                    choices=["tick_small", "query_mix"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    root = os.getcwd()
    if not os.path.isdir(os.path.join(root, "src", "main", "scala", "graft")):
        fail("run from the root of a checkout: the program sources "
             "(src/main/scala/graft) are not here")
    state = os.path.join(root, ".bench_build")
    os.makedirs(state, exist_ok=True)
    classes = build(root, state)

    work = os.path.join(state, "work", f"{args.workload}-{args.seed}-{os.getpid()}")
    os.makedirs(os.path.join(work, "tmp"))
    try:
        ok = execute(args, state, classes, work)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    sys.exit(0 if ok else 1)


def execute(args, state, classes, work):
    """One run in its own work directory; True when every check passed."""
    cpus = len(os.sched_getaffinity(0))
    load_start, cpu_start = os.getloadavg(), cpu_times()
    plan = make_plan(args.workload, args.seed, args.seconds, args.trace, cpus, work)

    plan_file = os.path.join(work, "plan.json")
    raw_file = os.path.join(work, "raw.json")
    with open(plan_file, "w") as fh:
        json.dump(plan, fh)
    java = os.path.join(os.environ["JAVA_HOME"], "bin", "java") \
        if os.environ.get("JAVA_HOME") else "java"
    cmd = ([java] + [a for p in ADD_OPENS for a in ("--add-opens", f"{p}=ALL-UNNAMED")]
           + [f"-Xms{JVM_HEAP}", f"-Xmx{JVM_HEAP}",
              f"-Djava.io.tmpdir={os.path.join(work, 'tmp')}",
              "-cp", f"{classes}{os.pathsep}{os.path.join(spark_home(), 'jars', '*')}",
              "perfbench.Main", plan_file, raw_file, str(int(time.time() * 1000))])
    timeout = JVM_MARGIN_S + 2 * args.seconds
    try:
        r = subprocess.run(cmd, cwd=work, stdout=sys.stderr, stderr=sys.stderr,
                           timeout=timeout)
    except subprocess.TimeoutExpired:
        fail(f"benchmark JVM exceeded {timeout:.0f}s", 3)
    if r.returncode != 0 or not os.path.exists(raw_file):
        fail(f"benchmark JVM failed with exit code {r.returncode}", 3)
    with open(raw_file) as fh:
        raw = json.load(fh)
    spans, res = raw["spans"], raw["result"]
    load_end, steal = os.getloadavg(), steal_share(cpu_start, cpu_times())

    ref = M.median([v / 1e9 for v in raw["reference_cpu_ns"]])
    if "ticks" in plan:
        setup_s = raw["boot_s"] + res["warm_s"] + M.median(res["seed_s"])
        attempted, failed, problems = check_ticks(plan, raw, spans)
        e2e, info = tick_metrics(plan, raw, spans, setup_s, ref)
    else:
        setup_s = raw["boot_s"] + res["check_s"] + res["warm_s"]
        attempted, failed, problems = check_mix(plan, raw, spans)
        e2e, info = mix_metrics(plan, raw, spans, setup_s, output_sizes(
            os.path.join(work, "out"), res["check_errors"]), ref)
    e2e["peak_heap_mb"] = max(raw["live_heap_bytes"]) / 2**20
    info["live_heap_mb"] = [b / 2**20 for b in raw["live_heap_bytes"]]
    info["vmhwm_mb"] = raw["vmhwm_kb"] / 1024.0
    info["reference_cpu_s"] = [v / 1e9 for v in raw["reference_cpu_ns"]]
    info["reference_cpu_p50_s"] = ref

    results = os.path.join(state, "results")
    os.makedirs(results, exist_ok=True)
    stem = os.path.join(results, f"{args.workload}-seed{args.seed}-trace{args.trace}")
    record = {
        "workload": args.workload, "seed": args.seed, "seconds": args.seconds,
        "trace": args.trace, "nproc": cpus, "loadavg_start": load_start,
        "loadavg_end": load_end, "cpu_steal_share": steal,
        "jvm_heap_max_bytes": raw["heap_max_bytes"],
        "jvm_heap_flag": JVM_HEAP, "spark_version": raw["spark_version"],
        "setup_parts": {"boot_s": raw["boot_s"],
                        "warm_s": res["warm_s"], "check_s": res.get("check_s"),
                        "seed_s": res.get("seed_s")},
        "fail_ratio": failed / attempted, "problems": problems,
        "end_to_end": e2e, "info": info,
    }
    if args.trace:
        layers, table, wall = per_layer(plan, raw, spans)
        record.update(per_layer=layers, layer_table=table, traced_wall_s=wall)
        with open(stem + "-spans.jsonl", "w") as fh:
            for s in spans:
                fh.write(json.dumps(s) + "\n")
        print(f"{'span':<28}{'count':>7}{'self_s':>10}{'share':>8}")
        for name, r in sorted(table.items(), key=lambda kv: -kv[1]["self_s"]):
            print(f"{name:<28}{r['count']:>7}{r['self_s']:>10.3f}{r['share']:>8.1%}")
        print(f"traced wall {wall:.3f}s; tracing overhead "
              f"{layers['trace.overhead_s']:+.4f}s per operation")
        chosen = [(n, u, layers[n]) for n, u in PER_LAYER]
    else:
        chosen = [(n, u, e2e[n]) for n, u in END_TO_END]
    with open(stem + ".json", "w") as fh:
        json.dump(record, fh, indent=1)
    for p in problems[:20]:
        log(f"CHECK FAILED: {p}")
    print(json.dumps({k: record[k] for k in (
        "workload", "seed", "nproc", "loadavg_start", "loadavg_end",
        "cpu_steal_share", "jvm_heap_max_bytes", "spark_version", "fail_ratio", "info")}))
    print(json.dumps({
        "correct": not problems, "attempted": attempted, "failed": failed,
        "metrics": {n: {"value": v, "unit": u} for n, u, v in chosen}}))
    return not problems


if __name__ == "__main__":
    main()

#!/usr/bin/env python3
"""The repository benchmark: one command, one workload, one seed.

Usage (from the repository root):
  python3 perfbench/run.py --workload analytics|neighbors \\
      --seed N --seconds S --trace 0|1

Each run builds the library and harness if needed (perfbench/build.py),
draws the order of the workload's fixed calls with the seed, and runs
them in one JVM on local[4] with one client thread (a closed loop).
Every call's output is checked against perfbench/reference.json. The
last stdout line is the result JSON; the lines before it name every
metric with its unit.

--trace 0 reports the end-to-end metrics. --trace 1 repeats the same
calls with a SparkListener and a QueryExecutionListener attached and
reports the per-layer metrics, each layer's self time and the tracing
overhead. See perfbench/README.md for the design.
"""
import argparse
import json
import os
import random
import shutil
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.dont_write_bytecode = True
sys.path.insert(0, HERE)
import build  # noqa: E402

CORES = 4
# the heap is pinned (-Xms = -Xmx) and pre-touched, so the peak RSS does
# not follow which heap pages the collector happened to touch
HEAP = "3g"
SETUP_REPS = 3
RUN_LIMIT_S = 170           # a run must end within 180 s once built
DATA = "sf0.1"
# planned wall time of one pass of either workload on 4 cores: a constant,
# so the pass count depends only on --seconds, never on measured speed
PASS_S = 4.0
# Each workload runs a fixed list of queries, chosen by the layer each one
# exercises (the reason is beside it). `pools` are the derived pools the
# queries must come from.
WORKLOADS = {
    "analytics": {
        "pools": ("analytics", "lifecycle"),
        "store_ops": True,
        "queries": {
            "q426_ks_uniform": "eda; rank-kernel routing (ml.Metrics.rankedScores)",
            "q454_partial_auc": "ml; desc-cum routing (ml.Metrics.descCumScoreCells)",
            "q266_curriculum_order": "text; ntile-kernel routing over document scores",
            "q54_quantile_split": "operators; ntile-kernel routing (Transforms.quantileSplit)",
            "q16_union_dedup": "sql; plain frame ops: union + dropDuplicates over events",
            "q98_compound_registry": "api; catalog save, then a reopened registry read",
        },
    },
    "neighbors": {
        "pools": ("neighbors",),
        "store_ops": False,
        "queries": {
            "q39_proximity_graph": "proximity; knn-euclidean routing (a count job while the "
                                   "plan is built), then a proximity graph over the knn",
            "q125_pq_topk": "proximity; pq-adc routing: product-quantized scan + rerank",
            "q49_knn_euclidean": "proximity; exact knnJoin: pair generation + row_number top-k",
            "q75_cosine_near_dup": "dedup; brute cosine pair join (Dedup.cosinePairs)",
            "q27_exact_dedup": "dedup; exact-duplicate groups of document texts (Dedup.exactGroups)",
        },
    },
}
# graft.core.Routing decisions the workloads' queries make at sf0.1; a
# route switch (say exact -> bucketed) shows as a drop in its count
ROUTES = ["knn-euclidean=exact", "pq-adc=flat", "rank-kernel=window",
          "desc-cum=window", "ntile-kernel=window"]
JVM_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar"]


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def load(name):
    with open(os.path.join(HERE, name)) as f:
        return json.load(f)


def java(cp, args, cwd, timeout):
    """Runs the harness JVM; returns its exit code (124 on timeout)."""
    env = {k: v for k, v in os.environ.items() if not k.startswith("SPARK_")
           or k == "SPARK_HOME"}
    env["PERFBENCH_CORES"] = str(CORES)
    tmp = os.path.join(cwd, "tmp")
    os.makedirs(tmp, exist_ok=True)
    cmd = ["java", f"-Xms{HEAP}", f"-Xmx{HEAP}", "-XX:+AlwaysPreTouch", "-Xss16m",
           "-XX:-UsePerfData", f"-Djava.io.tmpdir={tmp}", "-Dspark.ui.enabled=false"]
    for p in JVM_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    cmd += ["-cp", cp, "perfbench.Harness"] + args
    with open(os.path.join(cwd, "jvm.log"), "w") as out:
        proc = subprocess.Popen(cmd, cwd=cwd, env=env, stdout=out,
                                stderr=subprocess.STDOUT)
        try:
            return proc.wait(timeout=timeout)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
            return 124


def store_ops(rng):
    """One pass's direct store operations: the same kinds every seed (a
    DFStore upsert and a read of that key, an InferenceStore append, a
    Registry upsert), with seeded keys and input slices."""
    key, slice_ = f"k{rng.randrange(4)}", rng.randrange(64)
    ops = [("df.upsert", key), ("df.get", key), ("inf.append", ""),
           ("reg.upsert", f"a{rng.randrange(6)}")]
    return [{"kind": "store", "op": op, "key": k,
             "slice": slice_ if op.startswith("df") else rng.randrange(64)}
            for op, k in ops]


def draw(workload, seed):
    """One pass's ordered call list, drawn with the seed. The queries are
    fixed per workload; the seed draws the order and the store
    operations' keys and input slices."""
    spec = WORKLOADS[workload]
    rng = random.Random(f"{workload}:{seed}")
    queries = sorted(spec["queries"])
    calls = store_ops(rng) if spec["store_ops"] else []
    for n in rng.sample(queries, len(queries)):
        calls.insert(rng.randrange(len(calls) + 1), {"kind": "query", "name": n})
    return calls


def quantile_tail(lat):
    """(latency, percentile) at the highest percentile with at least ten
    calls beyond it. With fewer than 20 calls that percentile would not
    exceed the median, so the tail is then the slowest call."""
    s = sorted(lat)
    if len(s) < 20:
        return s[-1], 100.0
    return s[-11], 100.0 * (len(s) - 10) / len(s)


def check(recs, reference, out):
    """Marks each call ok or failed: it threw, its output does not match
    the reference, or a write it acknowledged did not read back."""
    for r in recs:
        if r["err"] is not None:
            r["fail"] = r["err"]
        elif r["kind"] == "query":
            ref = reference.get(r["name"])
            fp = r["fp"]
            if ref is None:
                r["fail"] = "no reference output"
            elif ref["exact"] and fp != {k: ref[k] for k in ("rows", "h1", "h2")}:
                r["fail"] = f"fingerprint {fp} != reference {ref}"
            elif fp["rows"] != ref["rows"]:
                r["fail"] = f"rows {fp['rows']} != reference {ref['rows']}"
    writes = {"df": ("df.upsert",), "inf": ("inf.append",), "reg": ("reg.upsert",)}
    for rb in out["read_back"]:
        if rb["err"] is None:
            continue
        kind, _, key = rb["key"].partition(":")
        hit = [r for r in recs if r["kind"] == "store" and r["phase"] != "warm"
               and (kind == "all" or (r["name"] in writes[kind]
                                      and r.get("key", "") == key))]
        for r in hit[-1:] if kind != "all" else hit:
            r.setdefault("fail", "read-back: " + rb["err"])
    return [r for r in recs if "fail" in r]


def cpu_jiffies():
    """(steal, total) jiffies of the whole machine, from /proc/stat."""
    with open("/proc/stat") as f:
        ticks = [int(x) for x in f.readline().split()[1:]]
    return ticks[7], sum(ticks)


def median(xs):
    return statistics.median(xs) if xs else 0.0


def end_to_end(out, recs, failed):
    timed = [r for r in recs if r["phase"] == "timed"]
    lat = [r["lat"] for r in timed]
    tail, pct = quantile_tail(lat)
    m = {
        "setup_s": (median(out["setup_s"]), "s"),
        "pass_s": (median(out["passes_s"]), "s"),
        "call_p50_s": (median(lat), "s"),
        "call_tail_s": (tail, "s"),
        "success_ratio": (1.0 - len(failed) / len(recs), "ratio"),
        "rss_peak_mb": (out["rss_peak_kb"] / 1024.0, "MB"),
    }
    info = {"call_tail_percentile": (pct, "%"), "timed_calls": (len(lat), "count"),
            "passes": (len(out["passes_s"]), "count"),
            "failed_ratio": (len(failed) / len(recs), "ratio")}
    return m, info


def per_layer(out, recs, families):
    tr = [r for r in recs if r["phase"] == "traced"]
    n = max(1, len(out["traced_passes_s"]))
    qs = [r for r in tr if r["kind"] == "query"]
    tot = lambda k, rs=tr: sum(r[k] for r in rs)  # noqa: E731
    jobs = tot("jobs")
    tasks = tot("tasks")
    rows = sum(r["fp"]["rows"] for r in qs if r["fp"])
    base = median(out["passes_s"])
    traced = median(out["traced_passes_s"])
    m = {
        "entry.construct_s": (tot("construct", qs) / n, "s"),
        "entry.materialize_s": (tot("materialize", qs) / n, "s"),
        "sched.jobs": (jobs / n, "count"),
        "sched.construct_jobs": (tot("construct_jobs") / n, "count"),
        "sched.jobs_per_call_p50": (median([r["jobs"] for r in qs]), "count"),
        "sched.stages": (tot("stages") / n, "count"),
        "sched.tasks": (tasks / n, "count"),
        "sched.tasks_per_job": (tasks / jobs if jobs else 0.0, "count"),
        "driver.self_s": (out["driver_self_s"] / n, "s"),
        "sched.delay_s": (tot("delay_ms") / 1000 / n, "s"),
        "sched.deser_s": (tot("deser_ms") / 1000 / n, "s"),
        "sched.task_run_s": (tot("run_ms") / 1000 / n, "s"),
        "sched.task_success_ratio": (tot("tasks_ok") / tasks if tasks else 1.0, "ratio"),
        "scan.input_bytes": (tot("in_bytes") / n, "bytes"),
        "scan.input_rows": (tot("in_rows") / n, "count"),
        "exchange.shuffle_write_bytes": (tot("sh_write") / n, "bytes"),
        "exchange.shuffle_read_bytes": (tot("sh_read") / n, "bytes"),
        "exec.peak_mem_bytes": (max([r["peak_mem"] for r in tr] or [0]), "bytes"),
        "jvm.gc_s": (out["gc_s"] / n, "s"),
        "proximity.pairs_per_result": (tot("join_rows", qs) / rows if rows else 0.0, "ratio"),
    }
    for decision in ROUTES:
        m["routing." + decision.replace("=", ".")] = (
            sum(decision in r["routes"] for r in qs) / n, "count")
    for fam in ("eda", "operators", "ml", "text", "sql", "proximity", "dedup", "api"):
        m[f"{fam}.call_s"] = (sum(r["lat"] for r in qs if families[r["name"]] == fam) / n, "s")
    st = [r for r in tr if r["kind"] == "store"]
    op_s = lambda *ops: sum(r["lat"] for r in st if r["name"] in ops) / n  # noqa: E731
    m.update({
        "stores.upsert_s": (op_s("df.upsert"), "s"),
        "stores.append_s": (op_s("inf.append"), "s"),
        "stores.get_s": (op_s("df.get"), "s"),
        "stores.registry_s": (op_s("reg.upsert"), "s"),
        "stores.files_written": (out["store_files"], "count"),
        "stores.bytes_per_user_byte": (
            out["store_bytes"] / (8 * out["store_live_cells"])
            if out["store_live_cells"] else 0.0, "ratio"),
    })
    for layer in ("construct", "materialize", "job", "stage"):
        m[f"self.{layer}_s"] = (out["self_s"].get(layer, 0.0) / n, "s")
    m["trace.overhead_s"] = (traced - base, "s")
    m["trace.overhead_ratio"] = ((traced - base) / base if base else 0.0, "ratio")
    return m


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()
    root = os.getcwd()

    try:
        cp = build.build(root)
    except build.BuildError as e:
        log(f"build failed: {e}")
        return 2
    pools = load("pools.json")
    reference = load("reference.json")
    data = os.path.join(HERE, "data", DATA)

    run_dir = os.path.join(root, build.BUILD_DIR, "runs",
                           f"{a.workload}-seed{a.seed}-trace{a.trace}")
    work = os.path.join(run_dir, "work")
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(work)
    spec = WORKLOADS[a.workload]
    stray = [n for n in spec["queries"]
             if not any(n in pools["pools"][p] for p in spec["pools"])]
    if stray:
        log(f"queries outside the {a.workload} pools: {stray}")
        return 3
    calls = draw(a.workload, a.seed)
    plan = {"data": data, "work": work, "cores": CORES,
            "passes": max(2, round(a.seconds / PASS_S)),
            "trace": a.trace, "setup_reps": 1 if a.trace else SETUP_REPS,
            "pools": pools["pools"], "calls": calls,
            "out": os.path.join(run_dir, "result.json"),
            "spans": os.path.join(run_dir, "spans.jsonl")}
    with open(os.path.join(run_dir, "plan.json"), "w") as f:
        json.dump(plan, f, indent=1)
    t0, j0 = time.monotonic(), cpu_jiffies()
    rc = java(cp, ["run", os.path.join(run_dir, "plan.json")], work, RUN_LIMIT_S)
    j1 = cpu_jiffies()
    # the CPU share the hypervisor took from this machine during the run:
    # a figure to read beside the timings, not a metric of the program
    steal = (j1[0] - j0[0]) / max(1, j1[1] - j0[1])
    log(f"harness exit {rc} after {time.monotonic() - t0:.1f} s")
    if rc != 0:
        log(f"harness failed; see {work}/jvm.log")
        return 3
    with open(plan["out"]) as f:
        out = json.load(f)
    shutil.move(os.path.join(work, "jvm.log"), os.path.join(run_dir, "jvm.log"))
    shutil.rmtree(work, ignore_errors=True)

    recs = out["calls"]
    for r in recs:
        if r["kind"] == "store":
            r["key"] = calls[r["idx"]]["key"]
    failed = check(recs, reference["queries"], out)
    for r in failed:
        print(f"FAILED {r['phase']} {r['name']}: {r['fail'][:300]}")
    e2e, info = end_to_end(out, recs, failed)
    info["host_steal_share"] = (round(steal, 4), "ratio")
    if a.trace:
        metrics = per_layer(out, recs, pools["families"])
    else:
        metrics = e2e
    print(f"workload {a.workload} seed {a.seed} trace {a.trace}: "
          f"{len(calls)} calls per pass, {info['passes'][0]} timed passes, "
          f"{info['timed_calls'][0]} timed calls")
    for k, (v, unit) in info.items():
        print(f"{k} {v:.6g} {unit}")
    for name, (v, unit) in (metrics.items() if a.trace else e2e.items()):
        print(f"{name} {v:.6g} {unit}")
    result = {"correct": not failed, "attempted": len(recs), "failed": len(failed),
              "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()}}
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())

#!/usr/bin/env python3
"""Regenerate perfbench/reference.json.

Usage (from the repository root):
  python3 perfbench/make_reference.py [name ...]
  python3 perfbench/make_reference.py --from-dump <dir> <result.json> ...

Without names every query of the three pools is dumped; --from-dump
reuses dumps the harness already wrote (`reference` mode).

Provenance of every reference fingerprint: the harness writes each
query's output as parquet, with oracle_sql.json beside the outputs,
fingerprints the live output twice and fingerprints the parquet it
wrote. tools/check.py then compares the parquet outputs with DuckDB
running the oracle SQL on the same data directory. A query gets an exact reference only if check.py passes it
AND the two live fingerprints and the parquet one are equal; the
queries without oracle SQL (rows-only) get a row-count reference when
the three row counts agree. A query that fails either test gets no
reference, so the benchmark reports its calls as failed.
"""
import datetime
import json
import os
import re
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
sys.dont_write_bytecode = True
sys.path.insert(0, HERE)
import build  # noqa: E402
import run  # noqa: E402


def dump(root, cp, data, names):
    out = os.path.join(root, build.BUILD_DIR, "reference", "out")
    os.makedirs(out, exist_ok=True)
    names_file = out + ".names"
    with open(names_file, "w") as f:
        f.write("\n".join(names) + "\n")
    result = out + ".result.json"
    rc = run.java(cp, ["reference", data, out, names_file, result],
                  os.path.dirname(out), 24 * 3600)
    if rc != 0:
        sys.exit(f"reference dump failed (exit {rc})")
    return out, [result]


def oracle_check(root, data, out):
    """tools/check.py verdicts: {name: "pass" | "rows" | "fail"}."""
    proc = subprocess.run(
        [sys.executable, os.path.join(root, "tools", "check.py"), data, out,
         out + ".check.json"], stdout=subprocess.PIPE, text=True)
    verdict = {}
    for line in proc.stdout.splitlines():
        m = re.match(r"(PASS|FAIL|ROWS) (q\w+)", line)
        if m and verdict.get(m.group(2)) != "fail":
            verdict[m.group(2)] = {"PASS": "pass", "ROWS": "rows"}.get(m.group(1), "fail")
    return verdict


def main(argv):
    root = os.getcwd()
    pools = run.load("pools.json")
    reference = run.load("reference.json") if os.path.isfile(
        os.path.join(HERE, "reference.json")) else {"queries": {}}
    cp = build.build(root)
    data = os.path.join(HERE, "data", run.DATA)
    if argv[:1] == ["--from-dump"]:
        out, results = argv[1], argv[2:]
    else:
        names = argv or sorted(n for p in pools["pools"].values() for n in p)
        out, results = dump(root, cp, data, names)
    rows = []
    for r in results:
        text = open(r).read().strip()
        rows += json.loads(text) if text.startswith("[") else \
            [json.loads(line) for line in text.splitlines() if line.strip()]
    verdict = oracle_check(root, data, out)
    refs = reference["queries"]
    rejected = []
    for r in rows:
        name = r["name"]
        refs.pop(name, None)
        if "err" in r:
            rejected.append(f"{name}: threw {r['err'][:120]}")
            continue
        v = verdict.get(name, "fail")
        same = r["fp"] == r["fp2"] == r["fp_parquet"] if v == "pass" else \
            r["fp"]["rows"] == r["fp2"]["rows"] == r["fp_parquet"]["rows"]
        if v == "fail" or not same:
            rejected.append(f"{name}: check.py {v}, fingerprints of the two live "
                            "runs and the parquet dump " + ("agree" if same else "differ"))
            continue
        refs[name] = dict(r["fp"], exact=(v == "pass"))
    done = {r["name"] for r in rows}
    reference["provenance"] = {
        "made": datetime.date.today().isoformat(),
        "data": os.path.relpath(data, root),
        "oracle": "tools/check.py (DuckDB) on the same data directory",
        "exact": sum(v["exact"] for v in refs.values()),
        "rows_only": sum(not v["exact"] for v in refs.values()),
        "rejected": sorted(rejected + [
            x for x in reference.get("provenance", {}).get("rejected", [])
            if x.split(":")[0] not in done]),
    }
    with open(os.path.join(HERE, "reference.json"), "w") as f:
        json.dump(reference, f, indent=1, sort_keys=True)
        f.write("\n")
    print(f"{len(refs)} references, {len(reference['provenance']['rejected'])} rejected")
    for line in reference["provenance"]["rejected"]:
        print("  rejected", line)
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))

#!/usr/bin/env python3
"""Derive the benchmark's three query pools from SparkEntry's source.

Usage: python3 perfbench/derive_pools.py [--write]

Each `SparkEntry.queries` builder is scanned for the library packages it
calls: fully qualified `graft.<pkg>.` references, the objects SparkEntry
imports unqualified, and (transitively) the private SparkEntry helpers it
calls. A query lands in the FIRST pool whose rule it matches:

  neighbors  calls graft.proximity or graft.dedup
  lifecycle  calls graft.api or graft.stores, or writes to a temp dir
  analytics  everything else

The family of a query (for the per-family call-time metrics) is the first
of proximity, dedup, api, ml, text, eda, operators that it calls, else
sql. Without --write the derived pools are compared with pools.json and
the script exits 1 on any difference; with --write pools.json is
rewritten.
"""
import json
import os
import re
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
SRC = os.path.join(HERE, "..", "src", "main", "scala", "graft", "SparkEntry.scala")
POOLS = os.path.join(HERE, "pools.json")

POOL_ORDER = ["neighbors", "lifecycle", "analytics"]
REASONS = {
    "neighbors": "pair generation, row_number top-k, vector kernels and "
                 "exchanges: executor time dominates",
    "lifecycle": "store writes beside reads, registry generation swaps, "
                 "parallelEach driver threads and MLlib fit/transform",
    "analytics": "sub-second eda/operator/ml/text/sql calls that sit on "
                 "the per-job driver and scheduling floor",
}
FAMILY_ORDER = ["proximity", "dedup", "api", "ml", "text", "eda", "operators"]
# packages folded into a family for the per-family metrics
FAMILY_OF_PKG = {"stores": "api", "views": "operators", "transforms": "operators",
                 "streaming": "operators", "sources": "operators",
                 "multimodal": "operators", "functions": "operators",
                 "plans": "operators"}
TEMP_WRITE = re.compile(r"createTempDirectory|java\.io\.tmpdir")


def split_members(text):
    """(queries map body, {helper name: body}) from SparkEntry.scala."""
    start = text.index("def queries:")
    end = text.index("def oracleSql:")
    qpart = text[start:end]
    close = re.search(r"\n  \)\n", qpart)
    body, tail = qpart[:close.start()], qpart[close.end():]
    head = text[:start]
    helpers = {}
    for chunk in (head, tail):
        defs = list(re.finditer(r"\n  (?:private )?(?:def|val) (\w+)", chunk))
        for i, m in enumerate(defs):
            stop = defs[i + 1].start() if i + 1 < len(defs) else len(chunk)
            helpers[m.group(1)] = chunk[m.start():stop]
    return body, helpers


def entries(body):
    marks = list(re.finditer(r'\n    "(q\d+_\w+)" ->', body))
    for i, m in enumerate(marks):
        stop = marks[i + 1].start() if i + 1 < len(marks) else len(body)
        yield m.group(1), body[m.start():stop]


def imported(text):
    """Unqualified object name -> package, from SparkEntry's imports."""
    return {m.group(2): m.group(1)
            for m in re.finditer(r"^import graft\.(\w+)\.(\w+)$", text, re.M)}


def packages(code, imports, helpers, seen=()):
    pk = set(re.findall(r"graft\.(\w+)\.", code))
    pk |= {p for n, p in imports.items() if re.search(r"\b%s\." % n, code)}
    if TEMP_WRITE.search(code):
        pk.add("tempdir")
    for h, hb in helpers.items():
        if h not in seen and re.search(r"\b%s\b" % h, code):
            pk |= packages(hb, imports, helpers, seen + (h,))
    pk.discard("core")
    return pk


def classify(pk):
    if pk & {"proximity", "dedup"}:
        pool = "neighbors"
    elif pk & {"api", "stores", "tempdir"}:
        pool = "lifecycle"
    else:
        pool = "analytics"
    fams = {FAMILY_OF_PKG.get(p, p) for p in pk}
    family = next((f for f in FAMILY_ORDER if f in fams), "sql")
    return pool, family


def derive():
    text = open(SRC).read()
    body, helpers = split_members(text)
    # helpers whose names also occur as builder-local identifiers would
    # over-match; only helpers that are defs/vals of SparkEntry count
    helpers = {k: v for k, v in helpers.items()
               if k not in ("queries", "oracleSql", "entry", "t", "dsum")}
    imports = imported(text)
    out = {}
    for name, code in entries(body):
        out[name] = classify(packages(code, imports, helpers))
    return out


def main(argv):
    derived = derive()
    pools = {p: sorted(n for n, (q, _) in derived.items() if q == p)
             for p in POOL_ORDER}
    families = {n: f for n, (_, f) in sorted(derived.items())}
    if "--write" in argv:
        doc = {
            "rule": "first match: neighbors (calls graft.proximity or "
                    "graft.dedup), lifecycle (calls graft.api or "
                    "graft.stores, or writes to a temp dir), analytics "
                    "(all other queries)",
            "reasons": REASONS,
            "pools": pools,
            "families": families,
        }
        with open(POOLS, "w") as f:
            json.dump(doc, f, indent=1, sort_keys=True)
            f.write("\n")
    for p in POOL_ORDER:
        print(f"{p}: {len(pools[p])}")
    if "--write" not in argv:
        stored = json.load(open(POOLS))
        if stored["pools"] != pools or stored["families"] != families:
            print("pools.json differs from the derivation; rerun with --write")
            return 1
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))

#!/usr/bin/env python3
"""Compare two graft.tools.Probe output directories, parent against change.

Each directory holds Probe's `layers.jsonl` (one JSON record per
recorded run) and one `<q>.plan.txt` per query (the formatted plan the
last run's count() executed). For every query in the parent directory
this prints the median construct and execute jobs and stages of each
side, and whether the two formatted plans match once the ids that vary
between runs are masked: expression ids (`#123`, `#123L`), `plan_id`s,
RDD ids (a snapshot's `MapPartitionsRDD[4662]`), and generated
lambda/class names with their object hashes. For each plan that
differs it prints the masked unified diff, capped at DIFF_LINES lines.
Exit code 1 on any count or plan mismatch, or a query missing from
either side:

    python3 scripts/plan_diff.py <parent_probe_dir> <change_probe_dir>
"""
import difflib
import json
import os
import re
import statistics
import sys

DIFF_LINES = 40
PHASES = ("construct", "execute")
METRICS = ("jobs", "stages")

MASKS = [
    (re.compile(r"#\d+L?"), "#N"),
    (re.compile(r"plan_id=\d+"), "plan_id=N"),
    # the JVM-wide RDD counter: a snapshot scan's RDD id moves with every
    # RDD created before it in the run
    (re.compile(r"RDD\[\d+\]"), "RDD[N]"),
    # JVM lambda classes: Multimodal$$$Lambda$4144/0x00007fb3e91e7ad8@c32908c
    (re.compile(r"\$Lambda[\w$]*/0x[0-9a-f]+@[0-9a-f]+"), "$Lambda"),
    # generated codegen classes and any remaining identity hashes
    (re.compile(r"GeneratedClass\$\w+"), "GeneratedClass"),
    (re.compile(r"(?<=[\w$])@[0-9a-f]{4,}\b"), "@H"),
]


def medians(probe_dir: str) -> dict:
    """{query: {(phase, metric): median over the recorded runs}}."""
    runs: dict = {}
    with open(os.path.join(probe_dir, "layers.jsonl")) as f:
        for line in f:
            if line.strip():
                rec = json.loads(line)
                runs.setdefault(rec["query"], []).append(rec)
    return {q: {(p, m): statistics.median(r[p][m] for r in recs)
                for p in PHASES for m in METRICS}
            for q, recs in runs.items()}


def masked_plan(probe_dir: str, query: str):
    path = os.path.join(probe_dir, f"{query}.plan.txt")
    if not os.path.exists(path):
        return None
    text = open(path).read()
    for pattern, repl in MASKS:
        text = pattern.sub(repl, text)
    return text


def main() -> int:
    if len(sys.argv) != 3:
        print(__doc__.strip().splitlines()[-1].strip())
        return 2
    parent_dir, change_dir = sys.argv[1], sys.argv[2]
    parent, change = medians(parent_dir), medians(change_dir)
    bad = 0
    print(f"{'query':28} {'phase':9} {'metric':7} {'parent':>6} {'change':>6}")
    for q in sorted(parent):
        if q not in change:
            print(f"{q:28} missing from {change_dir}")
            bad += 1
            continue
        for p in PHASES:
            for m in METRICS:
                a, b = parent[q][(p, m)], change[q][(p, m)]
                flag = "" if a == b else "  MISMATCH"
                bad += a != b
                print(f"{q:28} {p:9} {m:7} {a:6g} {b:6g}{flag}")
    for q in sorted(parent):
        pa, pb = masked_plan(parent_dir, q), masked_plan(change_dir, q)
        same = pa is not None and pa == pb
        bad += not same
        print(f"{q} plan {'identical (masked)' if same else 'DIFFERS'}")
        if not same and pa is not None and pb is not None:
            diff = list(difflib.unified_diff(pa.splitlines(), pb.splitlines(),
                                             parent_dir, change_dir, n=0, lineterm=""))
            for line in diff[:DIFF_LINES]:
                print(f"    {line}")
            if len(diff) > DIFF_LINES:
                print(f"    ... {len(diff) - DIFF_LINES} more diff lines")
    extra = sorted(set(change) - set(parent))
    for q in extra:
        print(f"{q:28} missing from {parent_dir}")
    bad += len(extra)
    print("PLANS AND COUNTS OK" if bad == 0 else f"{bad} MISMATCHES")
    return 1 if bad else 0


if __name__ == "__main__":
    sys.exit(main())

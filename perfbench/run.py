#!/usr/bin/env python3
"""Pipeline benchmark: times the graft.jobs.Pipelines mains end to end.

usage: python3 perfbench/run.py --workload NAME --seed N --seconds S --trace 0|1

Run from the root of a checkout. The first run builds the program and
the harness with sbt (perfbench/harness/build.sbt pulls in the root
build); later runs reuse the build until a source file changes. Each run
generates its inputs from the seed, starts one JVM that runs the mains
the way a scheduler does, checks their outputs, and prints a summary
line and then one JSON line: with --trace 0 the end-to-end metrics of
BENCHMARK.json, with --trace 1 its per-layer metrics.
"""
import argparse
import hashlib
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time

import checks
import gen

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
HARNESS = os.path.join(HERE, "harness")
WORK = os.path.join(ROOT, ".bench_build", "perfbench")
DEADLINE_S = 175

# batch_eod is not in BENCHMARK.json: see perfbench/README.md.
WORKLOADS = ("tick_drain", "corpus_curation", "batch_eod")
# a run measures for --seconds, within this many timed passes (a traced run at least 3)
MIN_PASSES, MAX_PASSES = 1, 12


def die(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(1)


def driver_mem():
    """SPARK_DRIVER_MEM as the tier-1 test command sets it: half of RAM, 2-8 GB."""
    with open("/proc/meminfo") as f:
        kb = next(int(l.split()[1]) for l in f if l.startswith("MemTotal:"))
    return f"{min(8, max(2, kb // 2097152))}g"


def fingerprint():
    h = hashlib.sha256()
    tops = [os.path.join(ROOT, "build.sbt"), os.path.join(ROOT, "project", "build.properties"),
            os.path.join(ROOT, "src", "main"), os.path.join(HARNESS, "build.sbt"),
            os.path.join(HARNESS, "project", "build.properties"), os.path.join(HARNESS, "src")]
    for top in tops:
        paths = [top] if os.path.isfile(top) else sorted(
            os.path.join(d, f) for d, _, fs in os.walk(top) for f in fs)
        for p in paths:
            h.update(p.encode())
            with open(p, "rb") as f:
                h.update(f.read())
    return h.hexdigest()


def build():
    """Returns (classpath, jvm options) for the harness, building if needed."""
    if not (os.path.isfile(os.path.join(ROOT, "build.sbt")) and
            os.path.isdir(os.path.join(ROOT, "src", "main"))):
        die("no program here: build.sbt and src/main must sit beside perfbench/")
    os.makedirs(WORK, exist_ok=True)
    spec = os.path.join(HARNESS, "target", "launch.txt")
    stamp = os.path.join(WORK, "build.stamp")
    fp = fingerprint()
    if not (os.path.exists(spec) and os.path.exists(stamp) and open(stamp).read() == fp):
        env = dict(os.environ, SPARK_DRIVER_MEM=driver_mem())
        env.setdefault("COURSIER_MODE", "offline")
        log = os.path.join(WORK, "build.log")
        with open(log, "w") as out:
            r = subprocess.run(["sbt", "--batch", "-Dsbt.log.noformat=true", "launchSpec"],
                               cwd=HARNESS, env=env, stdout=out, stderr=subprocess.STDOUT,
                               stdin=subprocess.DEVNULL, timeout=850)
        if r.returncode != 0 or not os.path.exists(spec):
            sys.stderr.write(open(log).read()[-4000:])
            die("build failed")
        with open(stamp, "w") as f:
            f.write(fp)
    cp, opts = None, []
    for line in open(spec).read().splitlines():
        k, _, v = line.partition("=")
        if k == "classpath":
            cp = v
        elif k == "opt":
            opts.append(v)
    return cp, opts


def generate(workload, seed, run_dir, max_passes):
    """Writes the inputs under run_dir/in; returns (input rows of one
    pass, traffic properties, truth for the checks)."""
    inp = os.path.join(run_dir, "in")
    os.makedirs(inp)
    if workload == "tick_drain":
        return gen.gen_ticks(seed, inp, max_passes + 1)
    if workload == "batch_eod":
        return gen.gen_batch(seed, os.path.join(inp, "raw"))
    return gen.gen_corpus(seed, os.path.join(inp, "docs.parquet"), os.path.join(inp, "eval.parquet"))


def median(xs):
    return statistics.median(xs) if xs else float("nan")


def layer_metrics(bench, passes, overhead_s, host_mops):
    """Median over the traced passes of every per_layer metric of
    BENCHMARK.json; a module that issued nothing in a pass reads 0."""
    out = {m["name"]: median([p["layers"].get(m["name"], 0.0) for p in passes])
           for m in bench["per_layer"]}
    out["trace.overhead_s"] = overhead_s
    out["host.mops"] = host_mops
    return out


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    args = ap.parse_args()
    # a TERM must not leave sbt or the JVM running: SystemExit unwinds through their waits
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    cp, opts = build()
    t_start = time.time()

    min_passes = 3 if args.trace else MIN_PASSES
    run_dir = os.path.join(WORK, "runs", f"{args.workload}-s{args.seed}-t{args.trace}-{os.getpid()}")
    shutil.rmtree(run_dir, ignore_errors=True)
    t_gen = time.time()
    rows, traffic, truth = generate(args.workload, args.seed, run_dir, MAX_PASSES)
    gen_s = time.time() - t_gen

    cores = len(os.sched_getaffinity(0))
    os.makedirs(os.path.join(run_dir, "tmp"))
    cmd = ["java", *opts, f"-Dspark.master=local[{cores}]",
           f"-Djava.io.tmpdir={os.path.join(run_dir, 'tmp')}"]
    if args.trace:
        cmd += ["-Dspark.extraListeners=perfbench.JobTracer",
                "-Dspark.sql.streaming.streamingQueryListeners=perfbench.StreamTracer"]
    cmd += ["-cp", cp, "perfbench.Harness", args.workload, run_dir, str(args.seconds),
            str(args.trace), str(cores), str(min_passes), str(MAX_PASSES)]
    env = dict(os.environ, SPARK_LOCAL_DIRS=os.path.join(run_dir, "spark-local"))
    log_path = os.path.join(run_dir, "jvm.log")
    with open(log_path, "w") as log:
        t_launch = time.time()
        proc = subprocess.Popen(cmd, cwd=run_dir, env=env, stdout=log, stderr=subprocess.STDOUT,
                                stdin=subprocess.DEVNULL)
        try:
            code = proc.wait(timeout=max(10, DEADLINE_S - (t_launch - t_start)))
        except subprocess.TimeoutExpired:
            code = None
        finally:
            if proc.poll() is None:
                proc.kill()
                proc.wait()
    result_path = os.path.join(run_dir, "result.json")
    if code != 0 or not os.path.exists(result_path):
        sys.stderr.write(open(log_path).read()[-4000:])
        die(f"harness {'timed out' if code is None else f'exited {code}'}; run dir {run_dir}")
    res = json.load(open(result_path))

    timed = res["passes"]
    ran = [p["i"] for p in [res["cold"], *timed] if p["error"] is None]
    results, bad = getattr(checks, args.workload)(run_dir, ran, truth)
    results = [{"name": n, "ok": ok, "detail": d} for n, ok, d in results]
    for p in [res["cold"], *timed]:
        p["ok"] = p["error"] is None and p["i"] not in bad
    failed = sum(not p["ok"] for p in timed)
    correct = res["cold"]["ok"] and failed == 0 and all(c["ok"] for c in results)
    plain = [p["wall_s"] for p in timed if not p["traced"]]
    record = {"workload": args.workload, "seed": args.seed, "trace": args.trace, "rows": rows,
              "traffic": traffic, "gen_s": gen_s, "host_mops": res["host_mops"],
              "pass_wall_s": [p["wall_s"] for p in timed],
              "pass_steal_share": [p["steal_share"] for p in timed], "checks": results,
              "layers_by_pass": [p["layers"] for p in timed if p["traced"]]}
    if args.trace:
        traced = [p for p in timed if p["traced"]]
        overhead = median([p["wall_s"] for p in traced]) - median(plain)
        values = layer_metrics(bench, traced, overhead, res["host_mops"])
        metrics = {m["name"]: {"value": values[m["name"]], "unit": m["unit"]} for m in bench["per_layer"]}
        print(f"{args.workload} seed={args.seed} traced: {len(traced)} traced + {len(plain)} plain passes, "
              f"tracing overhead {overhead:.3f} s/pass; spans and call sites in "
              f"{os.path.relpath(os.path.join(WORK, 'records', os.path.basename(run_dir)), ROOT)}")
    else:
        pass_s = median(plain)
        values = {"setup_s": res["setup_end_ms"] / 1000.0 - t_launch, "pass_s": pass_s,
                  "rows_per_s": rows / pass_s, "peak_rss_mb": res["peak_rss_mb"]}
        metrics = {m["name"]: {"value": values[m["name"]], "unit": m["unit"]} for m in bench["end_to_end"]}
        print(f"{args.workload} seed={args.seed}: setup_s={values['setup_s']:.3f} s "
              f"pass_s={pass_s:.3f} s rows_per_s={values['rows_per_s']:.1f} rows/s "
              f"fail_frac={failed / max(1, len(timed)):g} ({failed}/{len(timed)} passes) "
              f"peak_rss_mb={values['peak_rss_mb']:.1f} MB | gen {gen_s:.2f} s, "
              f"host {res['host_mops']:.1f} Msteps/s, "
              f"steal {max(p['steal_share'] for p in timed):.1%} of host CPU in a pass")
    for c in results:
        if not c["ok"]:
            print(f"check failed: {c['name']}: {c['detail']}")
    record["metrics"] = values
    records = os.path.join(WORK, "records", os.path.basename(run_dir))
    os.makedirs(records)
    with open(os.path.join(records, "record.json"), "w") as f:
        json.dump(record, f, indent=1)
    for name in ("trace.json", "callsites.tsv"):
        if os.path.exists(os.path.join(run_dir, name)):
            shutil.move(os.path.join(run_dir, name), records)
    shutil.rmtree(run_dir, ignore_errors=True)
    print(json.dumps({"correct": bool(correct), "attempted": len(timed), "failed": failed,
                      "metrics": metrics}))


if __name__ == "__main__":
    main()

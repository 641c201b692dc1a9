#!/usr/bin/env python3
"""graft benchmark: one command, two workloads, end-to-end and per-layer
metrics. Run from the repository root:

    python3 perfbench/run.py --workload query_sweep --seed 1 --seconds 15 --trace 0

It builds graft and the harness (perfbench/build.py), generates the
workload's inputs from the seed, drives graft in one JVM through its
public entry points, checks every answer (DuckDB oracle for queries, an
in-memory model for the lake table) and prints one JSON line last:
`--trace 0` gives the end-to-end metrics, `--trace 1` the per-layer
ones. Exits non-zero on any wrong answer or failed operation.
"""
import argparse
import glob
import importlib.util
import json
import math
import os
import random
import shutil
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

# Input generation and the answer checks need these; the python3 first
# on PATH may lack them (a system interpreter ahead of a pyenv one).
NEEDS = ("numpy", "pyarrow", "pandas", "duckdb")
REEXEC_ENV = "PERFBENCH_REEXEC"


def _version_key(path):
    v = os.path.basename(os.path.dirname(os.path.dirname(path)))
    return [int(x) if x.isdigit() else -1 for x in v.split(".")]


def python_with_needs():
    """The first interpreter that imports every module in NEEDS: python3
    and python on PATH, then pyenv's installs, newest first. None if there
    is none."""
    pyenv = os.environ.get("PYENV_ROOT", os.path.expanduser("~/.pyenv"))
    cands = [shutil.which(n) for n in ("python3", "python")]
    cands += sorted(glob.glob(os.path.join(pyenv, "versions", "*", "bin", "python3")),
                    key=_version_key, reverse=True)
    probe = "import " + ", ".join(NEEDS)
    seen = set()
    for c in cands:
        if not c or not os.access(c, os.X_OK) or os.path.realpath(c) in seen:
            continue
        seen.add(os.path.realpath(c))
        if subprocess.run([c, "-c", probe], stdout=subprocess.DEVNULL,
                          stderr=subprocess.DEVNULL).returncode == 0:
            return c
    return None


if not all(importlib.util.find_spec(m) for m in NEEDS):
    py = None if os.environ.get(REEXEC_ENV) else python_with_needs()
    if py is None:
        print(f"perfbench: no python3 here imports all of {', '.join(NEEDS)}", file=sys.stderr)
        sys.exit(2)
    os.environ[REEXEC_ENV] = "1"
    os.execv(py, [py, os.path.abspath(__file__)] + sys.argv[1:])

import build  # noqa: E402
import gen  # noqa: E402
import metrics  # noqa: E402
import oracle  # noqa: E402
from stats import self_times  # noqa: E402
from workloads import WORKLOADS  # noqa: E402

JVM_TIMEOUT_S = 150
JVM_HEAP = "3g"


def jvm_cmd(cp, scratch):
    opens = ["java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
             "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
             "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar"]
    cmd = ["java"]
    for p in opens:
        cmd += ["--add-opens", f"java.base/{p}=ALL-UNNAMED"]
    return cmd + [f"-Xmx{JVM_HEAP}", "-Dspark.ui.enabled=false",
                  "-Dspark.sql.session.timeZone=UTC",
                  f"-Djava.io.tmpdir={scratch}/tmp", f"-Dderby.system.home={scratch}",
                  "-cp", cp, "perfbench.Main"]


def make_plan(w, args, scratch, data, passes):
    # local[N] with N as `nproc` reports it: the CPUs this process may use
    cores = len(os.sched_getaffinity(0)) if hasattr(os, "sched_getaffinity") else os.cpu_count()
    plan = {"workload": w["kind"], "seed": args.seed, "seconds": args.seconds,
            "trace": bool(args.trace), "cores": cores, "scratch": scratch,
            "setup_reps": w["setup_reps"], "warm_passes": w["warm_passes"],
            "min_passes": w["min_passes"],
            "span_file": os.path.join(scratch, "spans.json")}
    if w["kind"] == "sweep":
        rng = random.Random(args.seed)
        orders = []
        for _ in range(passes):
            o = list(w["queries"])
            rng.shuffle(o)
            orders.append(o)
        plan.update(data=data, queries=w["queries"], warmup_query=w["warmup_query"],
                    orders=orders)
    return plan


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=15)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    args = ap.parse_args()
    args.seed %= 1 << 63
    t_start = time.perf_counter()
    # a terminated run still stops its JVM and removes its scratch
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    w = WORKLOADS[args.workload]
    root = os.getcwd()

    try:
        cp = build.build(root, os.environ.get("CARGO_TARGET_DIR", ".bench_build"))
    except build.BuildError as e:
        print(f"perfbench: {e}", file=sys.stderr)
        return 2

    runs = os.path.join(root, ".bench_run")
    scratch = os.path.join(runs, f"{args.workload}-{args.seed}-{os.getpid()}")
    # Spark local dirs and table roots of earlier, killed runs
    if os.path.isdir(runs):
        for d in os.listdir(runs):
            shutil.rmtree(os.path.join(runs, d), ignore_errors=True)
    os.makedirs(os.path.join(scratch, "tmp"))
    proc = None
    # passes (rounds) to generate: enough for any run of --seconds
    passes = max(w["min_passes"], math.ceil(args.seconds / w["pass_floor_s"]))
    try:
        data = os.path.join(scratch, "data")
        os.makedirs(data)
        g0 = time.perf_counter()
        if w["kind"] == "sweep":
            sizes = gen.write_tables(data, args.seed, **w["gen"])
            cdc = None
        else:
            base, rounds = gen.cdc_plan(args.seed, w["rows"], passes, w["lookups"])
            sizes = {"rows": len(base)}
            cdc = (base, rounds)
        plan = make_plan(w, args, scratch, data, passes)
        if cdc:
            plan["lake"] = {"base": f"{data}/base.parquet",
                            "rounds": gen.write_cdc(data, *cdc),
                            "newest_year": gen.YEARS[-1], "target_rows": w["target_rows"],
                            "compact_every": w["compact_every"], "retain": w["retain"]}
        gen_s = time.perf_counter() - g0
        plan_file = os.path.join(scratch, "plan.json")
        result_file = os.path.join(scratch, "result.json")
        # the cold set-up counts from here, so it includes JVM start
        plan["launch_ms"] = time.time() * 1000
        with open(plan_file, "w") as f:
            json.dump(plan, f)
        env = dict(os.environ, SPARK_GRAFT_CPUS=str(plan["cores"]),
                   SPARK_LOCAL_DIRS=os.path.join(scratch, "spark-local"))
        # Spark binds to loopback, whatever the host name resolves to
        env.setdefault("SPARK_LOCAL_IP", "127.0.0.1")
        env.setdefault("SPARK_LOCAL_HOSTNAME", "localhost")
        with open(os.path.join(scratch, "jvm.log"), "w") as log:
            proc = subprocess.Popen(jvm_cmd(cp, scratch) + [plan_file, result_file],
                                    cwd=scratch, env=env, stdout=log, stderr=subprocess.STDOUT,
                                    start_new_session=True)
            try:
                rc = proc.wait(timeout=JVM_TIMEOUT_S)
            except subprocess.TimeoutExpired:
                rc = "timeout"
        if rc != 0 or not os.path.exists(result_file):
            lines = open(os.path.join(scratch, "jvm.log")).read().splitlines()
            first = next((i for i, l in enumerate(lines) if "Exception" in l), len(lines) - 20)
            print(f"perfbench: harness failed ({rc}):", *lines[max(0, first - 2):first + 8],
                  sep="\n", file=sys.stderr)
            return 3
        res = json.load(open(result_file))
        res["env"]["sentinel_s"] = res["sentinel_s"]
        res["env"]["gen_s"] = gen_s

        c0 = time.perf_counter()
        if w["kind"] == "sweep":
            problems = oracle.check_queries(res, data)
        else:
            problems = oracle.check_lake(res, *cdc)
        res["env"]["check_s"] = time.perf_counter() - c0
        # each failed operation and each wrong answer counts once
        failed_ops = [o for o in res["ops"] if not o["ok"]]
        failed = len(failed_ops) + len(problems)
        for o in failed_ops:
            print(f"perfbench: {o['kind']} {o['name']} failed: {o.get('error')}", file=sys.stderr)
        for name, msg in problems:
            print(f"perfbench: wrong answer from {name}: {msg}", file=sys.stderr)

        # raw samples (and spans) stay in .bench_out for inspection
        keep = os.path.join(root, ".bench_out")
        os.makedirs(keep, exist_ok=True)
        tag = f"{args.workload}-{args.seed}-trace{args.trace}"
        shutil.copy(result_file, os.path.join(keep, f"result-{tag}.json"))
        details = {"env": res["env"], "sizes": sizes}
        if args.trace:
            spans = json.load(open(plan["span_file"]))
            shutil.copy(plan["span_file"], os.path.join(keep, f"spans-{tag}.json"))
            out = metrics.per_layer(w, res, spans)
            # per span name: (total, self) seconds
            details["spans"] = {k: [round(a, 4), round(b, 4)]
                                for k, (a, b) in sorted(self_times(spans).items())}
        else:
            out = metrics.end_to_end(w, res, details)
        res["env"]["wall_s"] = time.perf_counter() - t_start
        print(json.dumps(details), file=sys.stderr)
        print(json.dumps({"correct": failed == 0, "attempted": len(res["ops"]), "failed": failed,
                          "metrics": out}))
        return 0 if failed == 0 else 1
    finally:
        if proc is not None and proc.poll() is None:
            os.killpg(proc.pid, signal.SIGKILL)
            proc.wait()
        shutil.rmtree(scratch, ignore_errors=True)


if __name__ == "__main__":
    sys.exit(main())

"""Metrics from the harness's raw samples.

End-to-end metrics come from the untraced operations;
per-layer metrics from the traced passes of a `--trace 1` run (passes
there come in T U U T blocks, which also gives the tracing overhead).
The first `warm_passes` passes of every run warm up: their answers are
checked, their times not counted.
Every workload reports every metric; a layer a workload does not reach
reads 0.
"""
from stats import median, space_amp, tail, write_amp

SPARK = [("jobs", "count", "jobs", 1), ("stages", "count", "stages", 1),
         ("tasks", "count", "tasks", 1), ("shuffle_write_bytes", "B", "shuffle_write_bytes", 1),
         ("shuffle_read_bytes", "B", "shuffle_read_bytes", 1),
         ("spill_bytes", "B", "spill_bytes", 1), ("result_bytes", "B", "result_bytes", 1),
         ("task_run_s", "s", "task_run_ms", 1e-3), ("task_cpu_s", "s", "task_cpu_ns", 1e-9),
         ("task_gc_s", "s", "task_gc_ms", 1e-3), ("input_bytes", "B", "input_bytes", 1),
         ("input_rows", "count", "input_rows", 1), ("output_bytes", "B", "output_bytes", 1)]

FUNCTIONS = ["shingles3", "simHash", "md5Bits60", "textStats", "dot", "minNSummary"]

# name -> unit, for every per-layer metric (BENCHMARK.json lists the same)
PER_LAYER = dict(
    [("setup.bulk_load_s", "s"), ("setup.warmup_s", "s"),
     ("operators.build_s", "s"), ("plans.plan_s", "s"), ("operators.exec_s", "s"),
     ("operators.jobs_per_query", "count")]
    + [(f"spark.{n}", u) for n, u, _, _ in SPARK]
    + [("spark.job_idle_s", "s"), ("spark.slot_busy_frac", "ratio"),
       ("sources.commit_p50_s", "s"), ("sources.commit_tail_s", "s"),
       ("sources.scan_p50_s", "s"), ("sources.scan_tail_s", "s"),
       ("sources.lookup_p50_s", "s"), ("sources.lookup_tail_s", "s"),
       ("sources.compact_s", "s"), ("sources.write_amp", "ratio"),
       ("sources.space_amp", "ratio"), ("sources.upsert_s", "s"), ("sources.delete_s", "s"),
       ("sources.commit_jobs", "count"), ("sources.meta_bytes_per_commit", "B"),
       ("sources.data_bytes_per_commit", "B"), ("sources.data_files_per_commit", "count"),
       ("sources.scan_plan_s", "s"), ("sources.lookup_rows_read_per_hit", "count"),
       ("sources.lookup_rows_read_frac", "ratio"), ("sources.scan_exec_s", "s"),
       ("sources.scan_splits", "count"), ("sources.scan_rows_read_per_live_row", "ratio"),
       ("sources.runs_per_bucket_max", "count"), ("sources.runs_per_bucket_mean", "count"),
       ("sources.timetravel_s", "s"), ("sources.compact_bytes_rewritten", "B"),
       ("sources.compact_jobs", "count"), ("sources.expire_files_deleted", "count"),
       ("sources.live_files", "count"), ("sources.live_bytes", "B")]
    + [(f"functions.{f}.ns_per_row", "ns") for f in FUNCTIONS]
    + [("jvm.heap_peak_mb", "MB"), ("jvm.gc_s", "s"), ("trace.overhead_frac", "ratio")])


def _m(v, unit):
    return {"value": float(v), "unit": unit}


def _med(xs):
    return median(xs) if xs else 0.0


def _mean(xs):
    return sum(xs) / len(xs) if xs else 0.0


def pass_seconds(w, ops):
    """Sum of per-slot medians over one pass: each query once for a sweep;
    for lake_cdc one round (upsert, delete, the lookups, two scans) plus
    the maintenance ops spread over the rounds between them."""
    by = {}
    for o in ops:
        by.setdefault(o["name"], []).append(o["wall_s"])
    if w["kind"] == "sweep":
        return sum(median(v) for v in by.values())
    total = sum(_med(by.get(n, [])) for n in ("upsert", "delete", "full", "partition"))
    total += w["lookups"] * _med(by.get("lookup", []))
    maint = sum(_med(by.get(n, [])) for n in ("compact", "expire", "timetravel"))
    return total + maint / w["compact_every"]


def overhead(ops, first):
    """Traced against untraced time over the operations run both ways:
    per operation name the median, weighted by how often the name runs.
    Only whole T U U T blocks from pass `first` on count, so a drift in
    speed over the run weighs on both sides alike."""
    blocks = (max((o["pass"] for o in ops), default=first - 1) - first + 1) // 4
    t, u = {}, {}
    for o in ops:
        if first <= o["pass"] < first + 4 * blocks:
            (t if o["traced"] else u).setdefault(o["name"], []).append(o["wall_s"])
    both = set(t) & set(u)
    if not both:
        return 0.0
    weight = {n: len(t[n]) + len(u[n]) for n in both}
    return (sum(weight[n] * median(t[n]) for n in both)
            / sum(weight[n] * median(u[n]) for n in both)) - 1.0


def counted(w, res):
    """The operations that count: those that succeeded, after the warm-up
    passes (whose answers are still checked)."""
    return [o for o in res["ops"] if o["ok"] and o["pass"] >= w["warm_passes"]]


def end_to_end(w, res, details):
    ops = [o for o in counted(w, res) if not o["traced"]]
    walls = [o["wall_s"] for o in ops]
    tv, pct, n = tail(walls)
    details["op_tail_s"] = {"percentile": pct, "n": n}
    details["op_p50_s"] = {"n": n}
    # the first set-up is the cold one, from launch; the others are warm
    cold, *warm = [s["total_s"] for s in res["setup"]]
    details["setup_s"] = {"n": len(warm)}
    return {"setup_s": _m(median(warm), "s"),
            "setup_cold_s": _m(cold, "s"),
            "op_p50_s": _m(median(walls), "s"),
            "op_tail_s": _m(tv, "s"),
            "pass_s": _m(pass_seconds(w, ops), "s")}


def per_layer(w, res, spans):
    v = {k: 0.0 for k in PER_LAYER}
    setup = res["setup"]
    for k in ("bulk_load_s", "warmup_s"):
        v[f"setup.{k}"] = _med([s.get(k, 0.0) for s in setup])
    untraced = [o for o in counted(w, res) if not o["traced"]]
    traced = [o for o in counted(w, res) if o["traced"]]
    n_pass = len({o["pass"] for o in traced}) or 1
    span_of = {}
    for s in spans:
        span_of.setdefault(s["op"], []).append(s)

    # engine counters, per traced pass
    for n, _, key, scale in SPARK:
        v[f"spark.{n}"] = sum(o["counters"][key] for o in traced) * scale / n_pass
    v["spark.job_idle_s"] = sum(o["idle_ms"] for o in traced) / 1e3 / n_pass
    wall = sum(o["wall_s"] for o in traced)
    if wall > 0:
        v["spark.slot_busy_frac"] = (sum(o["counters"]["task_run_ms"] for o in traced) / 1e3
                                     / (wall * res["env"]["cores"]))
    v["trace.overhead_frac"] = overhead(untraced + traced, w["warm_passes"])

    def span_med(op_filter, span_name):
        """Per matching op, the summed duration of its spans of that name."""
        out = []
        for o in traced:
            if op_filter(o):
                d = [(s["end_ns"] - s["start_ns"]) / 1e9 for s in span_of.get(o["id"], [])
                     if s["name"] == span_name]
                if d:
                    out.append(sum(d))
        return out

    if w["kind"] == "sweep":
        for metric, span in (("operators.build_s", "operators.build"),
                             ("plans.plan_s", "plans.plan"), ("operators.exec_s", "operators.exec")):
            per_q = {}
            for o in traced:
                d = [(s["end_ns"] - s["start_ns"]) / 1e9 for s in span_of.get(o["id"], [])
                     if s["name"] == span]
                per_q.setdefault(o["name"], []).append(sum(d))
            v[metric] = sum(median(x) for x in per_q.values())
        v["operators.jobs_per_query"] = _mean([o["counters"]["jobs"] for o in traced])
        for f in FUNCTIONS:
            v[f"functions.{f}.ns_per_row"] = res.get("functions", {}).get(f, 0.0)
    else:
        lake_layer(v, w, res, untraced, traced, span_med)
    v["jvm.heap_peak_mb"] = res["jvm"]["heap_peak_mb"]
    v["jvm.gc_s"] = res["jvm"]["gc_s"]
    return {k: _m(x, PER_LAYER[k]) for k, x in v.items()}


def lake_layer(v, w, res, untraced, traced, span_med):
    def walls(ops, names):
        return [o["wall_s"] for o in ops if o["name"] in names]

    # latencies from every op: maintenance always runs traced in a traced run
    done = untraced + traced
    for key, names in (("commit", ("upsert", "delete")), ("scan", ("full", "partition", "timetravel")),
                       ("lookup", ("lookup",))):
        xs = walls(done, names)
        if xs:
            v[f"sources.{key}_p50_s"] = median(xs)
            v[f"sources.{key}_tail_s"] = tail(xs)[0]
    v["sources.compact_s"] = sum(_med(walls(done, (n,))) for n in ("compact", "expire"))
    commits = [o for o in traced if o["name"] in ("upsert", "delete")]
    listed = [o for o in done if o["name"] in ("upsert", "delete") and "files" in o]
    v["sources.upsert_s"] = _med(span_med(lambda o: o["name"] == "upsert", "sources.upsert"))
    v["sources.delete_s"] = _med(span_med(lambda o: o["name"] == "delete", "sources.delete"))
    v["sources.commit_jobs"] = _mean([o["counters"]["jobs"] for o in commits])
    v["sources.meta_bytes_per_commit"] = _mean([o["files"]["meta_bytes"] for o in listed])
    v["sources.data_bytes_per_commit"] = _mean([o["files"]["data_bytes"] for o in listed])
    v["sources.data_files_per_commit"] = _mean([o["files"]["data_files"] for o in listed])
    lookups = [o for o in traced if o["kind"] == "lookup"]
    live_rows = res["live_rows"]
    v["sources.scan_plan_s"] = _med(span_med(lambda o: o["kind"] == "lookup", "sources.scan_plan"))
    hits = sum(len(o["rows"]) for o in lookups)
    if hits:
        v["sources.lookup_rows_read_per_hit"] = sum(o["counters"]["input_rows"] for o in lookups) / hits
    if lookups:
        v["sources.lookup_rows_read_frac"] = _mean([o["counters"]["input_rows"] / live_rows
                                                    for o in lookups])
    scans = [o for o in traced if o["name"] in ("full", "partition")]
    v["sources.scan_exec_s"] = _med(span_med(lambda o: o["name"] in ("full", "partition"),
                                             "sources.scan_exec"))
    full = [o for o in traced if o["name"] == "full"]
    v["sources.scan_splits"] = _mean([o["splits"] for o in full])
    v["sources.scan_rows_read_per_live_row"] = _mean([o["counters"]["input_rows"] / live_rows
                                                      for o in full])
    v["sources.runs_per_bucket_max"] = max([o["runs_per_bucket"]["max"] for o in scans], default=0)
    v["sources.runs_per_bucket_mean"] = _mean([o["runs_per_bucket"]["mean"] for o in scans])
    v["sources.timetravel_s"] = _med(span_med(lambda o: o["name"] == "timetravel", "sources.timetravel"))
    compacts = [o for o in traced if o["name"] == "compact"]
    v["sources.compact_bytes_rewritten"] = _mean([o["files"]["added_bytes"] for o in compacts])
    v["sources.compact_jobs"] = _mean([o["counters"]["jobs"] for o in compacts])
    v["sources.expire_files_deleted"] = _mean([o["files"]["removed_files"]
                                               for o in traced if o["name"] == "expire"])
    v["sources.live_files"] = res["live_files"]
    v["sources.live_bytes"] = res["live_bytes"]
    v["sources.space_amp"] = space_amp(res["root_bytes"], res["live_bytes"])
    v["sources.write_amp"] = write_amp(res["written_bytes"], sum(res["batch_bytes"]))

"""Metrics of the benchmark, computed from the raw record one run writes
(ops, spans, Spark jobs and stages, planning phases, checks).

End-to-end metrics come from every op's wall time. Per-layer metrics
come from traced ops only: jobs are attributed to ops through the span
id the benchmark sets as a Spark local property, and times are unions of
intervals, so overlapped work is not counted twice.

    python3 perfbench/metrics.py compare A.jsonl B.jsonl

compares two files of records written with `run.py --record`, metric by
metric, and refuses records taken at different core counts.
"""
import bisect
import json
import statistics
import sys

# Metrics a traced run prints on its last line; BENCHMARK.json lists the
# same names. Every workload has all of them. The workload-specific
# figures go to the TRACE report line.
PER_LAYER = [
    ("spark.jobs", "count"), ("spark.short_jobs", "count"),
    ("spark.stages", "count"), ("spark.tasks", "count"),
    ("spark.unattributed_jobs", "count"),
    ("spark.exec_run_s", "s"), ("spark.exec_cpu_s", "s"),
    ("spark.sched_wait_s", "s"), ("spark.driver_gap_s", "s"),
    ("spark.utilisation", "ratio"),
    ("spark.shuffle_write_bytes", "bytes"), ("spark.shuffle_read_bytes", "bytes"),
    ("spark.spill_bytes", "bytes"), ("spark.input_bytes", "bytes"),
    ("spark.output_bytes", "bytes"),
    ("fs.read_ops", "count"), ("fs.write_ops", "count"),
    ("fs.bytes_read", "bytes"), ("fs.bytes_written", "bytes"),
    ("maint.spark.jobs", "count"), ("maint.spark.short_jobs", "count"),
    ("maint.spark.driver_gap_s", "s"), ("maint.spark.utilisation", "ratio"),
    ("maint.fs.read_ops", "count"), ("maint.fs.write_ops", "count"),
    ("jvm.gc_s", "s"), ("jvm.peak_heap_mb", "MB"), ("jvm.live_heap_mb", "MB"),
    ("trace.overhead_frac", "ratio"), ("failed_frac", "ratio"),
]

END_TO_END = [("items_per_s", "items/s"), ("op_p50_s", "s"), ("maint_p50_s", "s"),
              ("setup_s", "s")]

SHORT_JOB_MS = 100
TAIL_BEYOND = 10

# Job-description labels the program's Concurrent legs set during one
# IngestDedup micro-batch, and the metric each one feeds.
INGEST_LABELS = {"ingest: batch artifacts": "artifacts", "ingest: probe": "probe",
                 "ingest: cluster state": "cluster_state",
                 "ingest: verdict sink": "verdict_sink",
                 "ingest: cluster fold": "cluster_fold",
                 "ingest: index append": "index_append"}


def tail(samples, beyond=TAIL_BEYOND):
    """The highest percentile of `samples` with at least `beyond` samples
    strictly above it, as (value, percentile, sample count). With too few
    samples for that, the maximum, reported as percentile 100."""
    xs = sorted(samples)
    n = len(xs)
    for k in range(n - 1, -1, -1):
        if n - bisect.bisect_right(xs, xs[k]) >= beyond:
            return xs[k], 100.0 * (k + 1) / n, n
    return xs[-1], 100.0, n


def union_length(intervals):
    """Total length covered by a set of (start, end) intervals."""
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted(i for i in intervals if i[1] > i[0]):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def self_times(spans):
    """Span id -> its duration minus the part of it its children cover."""
    children = {}
    for s in spans:
        children.setdefault(s["parent"], []).append(s)
    out = {}
    for s in spans:
        kids = [(max(c["start"], s["start"]), min(c["end"], s["end"]))
                for c in children.get(s["id"], [])]
        out[s["id"]] = (s["end"] - s["start"]) - union_length(kids)
    return out


def attribute_jobs(jobs, spans, ops):
    """Assign each job to a traced op. Returns ({op id: [job]}, [job]):
    the second list holds jobs that ran inside a traced op without the
    span property (attributed by time instead, and counted)."""
    span_ids = {s["id"]: s for s in spans}
    traced = [o for o in ops if o["traced"]]
    per_op = {o["id"]: [] for o in traced}
    unattributed = []
    for j in jobs:
        s = span_ids.get(int(j["span"])) if j["span"] else None
        if s is not None:
            if s["op"] in per_op:
                per_op[s["op"]].append(j)
            continue
        for o in traced:
            if o["start"] <= j["submit"] <= o["end"]:
                per_op[o["id"]].append(j)
                unattributed.append(j)
                break
    return per_op, unattributed


def stages_by_job(jobs, stages):
    """Job id -> the stage records that ran for it (a stage listed by
    several jobs belongs to the one whose interval holds its submission)."""
    listed = {}
    for j in jobs:
        for sid in j["stages"]:
            listed.setdefault(sid, []).append(j)
    out = {}
    for st in stages:
        cands = listed.get(st["id"], [])
        owner = next((j for j in cands if j["submit"] <= st["submit"] <= j["end"]),
                     cands[0] if cands else None)
        if owner is not None:
            out.setdefault(owner["id"], []).append(st)
    return out


def op_layers(op, jobs, job_stages, cores):
    """Spark and filesystem figures of one traced op."""
    wall_ms = op["end"] - op["start"]
    busy_ms = union_length([(max(j["submit"], op["start"]), min(j["end"], op["end"]))
                            for j in jobs])
    sts = [st for j in jobs for st in job_stages.get(j["id"], [])]
    run_s = sum(st["run_ms"] for st in sts) / 1000.0
    return {
        "spark.jobs": len(jobs),
        "spark.short_jobs": sum(1 for j in jobs if j["end"] - j["submit"] < SHORT_JOB_MS),
        "spark.stages": len(sts),
        "spark.tasks": sum(st["tasks"] for st in sts),
        "spark.exec_run_s": run_s,
        "spark.exec_cpu_s": sum(st["cpu_ns"] for st in sts) / 1e9,
        "spark.sched_wait_s": sum(st["first_launch"] - st["submit"] for st in sts
                                  if st["first_launch"] >= 0) / 1000.0,
        "spark.driver_gap_s": (wall_ms - busy_ms) / 1000.0,
        "spark.utilisation": run_s / (wall_ms / 1000.0 * cores) if wall_ms > 0 else 0.0,
        "spark.shuffle_write_bytes": sum(st["shuffle_write"] for st in sts),
        "spark.shuffle_read_bytes": sum(st["shuffle_read"] for st in sts),
        "spark.spill_bytes": sum(st["spill"] for st in sts),
        "spark.input_bytes": sum(st["input"] for st in sts),
        "spark.output_bytes": sum(st["output"] for st in sts),
        "fs.read_ops": op["fs"]["read_ops"], "fs.write_ops": op["fs"]["write_ops"],
        "fs.bytes_read": op["fs"]["bytes_read"], "fs.bytes_written": op["fs"]["bytes_written"],
    }


def mean_of(rows):
    keys = rows[0].keys() if rows else []
    return {k: statistics.fmean(r[k] for r in rows) for k in keys}


def failures(raw):
    ops = raw["ops"]
    bad = {o["id"] for o in ops if not o["ok"]}
    for c in raw["checks"]:
        if not c["ok"]:
            bad |= set(c["ops"]) or {ops[-1]["id"]}
    return len(ops), len(bad)


def end_to_end(raw):
    ops = raw["ops"]
    units = [(o["end"] - o["start"]) / 1000.0 for o in ops if o["kind"] == "op"]
    maint = [(o["end"] - o["start"]) / 1000.0 for o in ops if o["kind"] == "maint"]
    if not units or not maint:
        raise SystemExit(f"perfbench: the run completed {len(units)} unit ops and "
                         f"{len(maint)} maintenance ops; it needs at least one of each")
    wall = sum(o["end"] - o["start"] for o in ops) / 1000.0
    items = sum(o["items"] for o in ops if o["kind"] == "op" and o["ok"])
    t, pct, n = tail(units)
    return ({"items_per_s": items / wall, "op_p50_s": statistics.median(units),
             "maint_p50_s": statistics.median(maint),
             "setup_s": statistics.median(raw["setup_s"])},
            {"op_tail_s": t, "op_tail_percentile": pct, "op_samples": n,
             "op_tail_beyond": sum(1 for u in units if u > t), "maint_samples": len(maint),
             "op_s": units, "maint_s": maint})


def per_layer(raw):
    """(per-layer metrics of BENCHMARK.json, full trace report)."""
    cores = raw["cores"]
    ops, spans, jobs, stages = raw["ops"], raw["spans"], raw["jobs"], raw["stages"]
    per_op, unattributed = attribute_jobs(jobs, spans, ops)
    job_stages = stages_by_job(jobs, stages)
    by_id = {o["id"]: o for o in ops}
    layers = {}
    for o in ops:
        if o["traced"]:
            layers.setdefault(o["kind"], []).append(
                op_layers(o, per_op[o["id"]], job_stages, cores))
    kinds = {k: mean_of(v) for k, v in layers.items()}
    unit, maint = kinds.get("op", {}), kinds.get("maint", {})

    # spans: duration, self time and jobs (the span's subtree) per name
    selfs = self_times(spans)
    kids = {}
    for s in spans:
        kids.setdefault(s["parent"], []).append(s["id"])
    def subtree(sid):
        out, todo = set(), [sid]
        while todo:
            x = todo.pop()
            out.add(x)
            todo += kids.get(x, [])
        return out
    span_jobs = {}
    for j in jobs:
        if j["span"]:
            span_jobs.setdefault(int(j["span"]), []).append(j)
    named = {}
    for s in spans:
        if s["op"] not in by_id:
            continue
        n = named.setdefault(s["name"], {"n": 0, "s": 0.0, "self_s": 0.0, "jobs": 0, "out": 0})
        js = [j for x in subtree(s["id"]) for j in span_jobs.get(x, [])]
        n["n"] += 1
        n["s"] += (s["end"] - s["start"]) / 1000.0
        n["self_s"] += selfs[s["id"]] / 1000.0
        n["jobs"] += len(js)
        n["out"] += sum(st["output"] for j in js for st in job_stages.get(j["id"], []))
    report = {}
    for name, n in named.items():
        report[f"{name}_s"] = n["s"] / n["n"]
        report[f"{name}.self_s"] = n["self_s"] / n["n"]
        report[f"{name}_jobs"] = n["jobs"] / n["n"]
        report[f"{name}_output_bytes"] = n["out"] / n["n"]
    traced_ops = sum(1 for o in ops if o["traced"])
    layer_self = {}
    for s in spans:
        # an op's root span keeps the time no layer span covers
        layer = "unspanned" if s["name"].startswith("op.") else s["name"].split(".")[0]
        layer_self[layer] = layer_self.get(layer, 0.0) + selfs[s["id"]] / 1000.0
    report["self_time_s_per_traced_op"] = {k: v / max(traced_ops, 1) for k, v in layer_self.items()}

    # planning vs running the sink, on ops with an exec.sink span
    sinks = [s for s in spans if s["name"] == "exec.sink"]
    if sinks:
        plan_ms = []
        for s in sinks:
            plan_ms.append(sum(p[ph]["end"] - p[ph]["start"] for p in raw["plans"]
                               for ph in ("optimization", "planning") if ph in p
                               and s["start"] <= p[ph]["start"] <= s["end"]))
        report["compile.plan_s"] = statistics.fmean(plan_ms) / 1000.0
        report["exec.run_s"] = statistics.fmean(
            (s["end"] - s["start"] - p) for s, p in zip(sinks, plan_ms)) / 1000.0

    # per Concurrent label of an IngestDedup micro-batch
    ingest = {}
    for o in ops:
        if not (o["traced"] and o["kind"] == "op"):
            continue
        groups = {}
        for j in per_op[o["id"]]:
            labels = [x for x in j["desc"].split(" / ") if x in INGEST_LABELS]
            if labels:
                groups.setdefault(INGEST_LABELS[labels[-1]], []).append(j)
        for key, js in groups.items():
            g = ingest.setdefault(key, {"s": 0.0, "jobs": 0})
            g["s"] += union_length([(j["submit"], j["end"]) for j in js]) / 1000.0
            g["jobs"] += len(js)
    n_units = sum(1 for o in ops if o["traced"] and o["kind"] == "op")
    for key, g in ingest.items():
        report[f"streaming.ingest.{key}_s"] = g["s"] / n_units
        report[f"streaming.ingest.{key}_jobs"] = g["jobs"] / n_units

    traced_units = [(o["end"] - o["start"]) / 1000.0 for o in ops if o["kind"] == "op" and o["traced"]]
    bare_units = [(o["end"] - o["start"]) / 1000.0 for o in ops if o["kind"] == "op" and not o["traced"]]
    overhead = (statistics.median(traced_units) / statistics.median(bare_units) - 1.0
                if traced_units and bare_units else 0.0)
    attempted, failed = failures(raw)
    metrics = {k: unit.get(k, 0.0) for k, _ in PER_LAYER if k.split(".")[0] in ("spark", "fs")}
    metrics.update({
        "spark.unattributed_jobs": len(unattributed),
        "maint.spark.jobs": maint.get("spark.jobs", 0.0),
        "maint.spark.short_jobs": maint.get("spark.short_jobs", 0.0),
        "maint.spark.driver_gap_s": maint.get("spark.driver_gap_s", 0.0),
        "maint.spark.utilisation": maint.get("spark.utilisation", 0.0),
        "maint.fs.read_ops": maint.get("fs.read_ops", 0.0),
        "maint.fs.write_ops": maint.get("fs.write_ops", 0.0),
        "jvm.gc_s": raw["jvm"]["gc_s"], "jvm.peak_heap_mb": raw["jvm"]["peak_heap_mb"],
        "jvm.live_heap_mb": raw["jvm"]["live_heap_mb"],
        "trace.overhead_frac": overhead, "failed_frac": failed / attempted,
    })
    report.update({f"{kind}.{k}": v for kind, m in kinds.items() for k, v in m.items()})
    report.update(raw.get("report", {}))
    report["unattributed_jobs"] = [{"desc": j["desc"], "span": j["span"]} for j in unattributed]
    report["trace.overhead_base"] = {"traced_unit_ops": len(traced_units),
                                     "untraced_unit_ops": len(bare_units)}
    return metrics, report


def spread(values):
    """Inter-quartile range of `values` as a share of their median."""
    if len(values) < 2:
        return float("nan")
    q1, med, q3 = statistics.quantiles(values, n=4)
    return (q3 - q1) / med if med else float("nan")


def bounds(path="BENCHMARK.json"):
    """End-to-end metric name -> (bound, better) from BENCHMARK.json."""
    try:
        with open(path) as fh:
            spec = json.load(fh)
    except OSError:
        return {}
    return {m["name"]: (m["bound"], m["better"]) for m in spec.get("end_to_end", [])}


def compare(path_a, path_b):
    """Median and spread of every metric in two record files, side by
    side, with the change of B against A judged by BENCHMARK.json's bound
    (`worse` when B is worse than A by more than the bound)."""
    def load(p):
        with open(p) as fh:
            return [json.loads(line) for line in fh if line.strip()]
    a, b = load(path_a), load(path_b)
    cores = {r["env"]["cores"] for r in a + b}
    if len(cores) != 1:
        raise SystemExit(f"perfbench: refusing to compare runs at different core counts {sorted(cores)}")
    limits = bounds()
    print(f"{'workload':18s} {'metric':28s} {'median A':>12s} {'median B':>12s} {'change':>9s} "
          f"{'spread A':>9s} {'spread B':>9s}  verdict")
    for wl in sorted({r["workload"] for r in a + b}):
        names = sorted({m for r in a + b if r["workload"] == wl for m in r["metrics"]})
        for m in names:
            va = [r["metrics"][m]["value"] for r in a if r["workload"] == wl and m in r["metrics"]]
            vb = [r["metrics"][m]["value"] for r in b if r["workload"] == wl and m in r["metrics"]]
            if not (va and vb):
                continue
            ma, mb = statistics.median(va), statistics.median(vb)
            ch = mb / ma - 1.0 if ma else float("nan")
            verdict = ""
            if m in limits:
                bound, better = limits[m]
                verdict = "worse" if (ch if better == "lower" else -ch) > bound else "within bound"
            print(f"{wl:18s} {m:28s} {ma:12.6g} {mb:12.6g} {ch * 100:+8.2f}% "
                  f"{spread(va):9.3f} {spread(vb):9.3f}  {verdict} (n={len(va)},{len(vb)})")


if __name__ == "__main__":
    if len(sys.argv) == 4 and sys.argv[1] == "compare":
        compare(sys.argv[2], sys.argv[3])
    else:
        raise SystemExit(__doc__)

"""The repository's benchmark: one seeded, closed-loop workload per run
against the engine's public layer APIs, outputs checked, metrics printed.

    python3 perfbench/run.py --workload wrangle_etl --seed 1 --seconds 6 --trace 0

Run from the repository root. The last line of standard output is one
JSON object: {"correct", "attempted", "failed", "metrics"}. `--trace 0`
gives the end-to-end metrics, `--trace 1` the per-layer ones; a traced
run also prints a `TRACE {...}` line with every layer figure of the
workload and every span it recorded. `--record FILE` appends the run (metrics plus environment
stamp) to FILE for `python3 perfbench/metrics.py compare A B`.

Workloads: wrangle_etl, dedup_stream, pref_leaderboard (perfbench/README.md).
"""
import argparse
import glob
import json
import os
import shutil
import subprocess
import sys
import time
import uuid

sys.dont_write_bytecode = True
sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import build  # noqa: E402
import metrics  # noqa: E402

WORKLOADS = ("wrangle_etl", "dedup_stream", "pref_leaderboard")
RUNS = ".bench_run"
# input statistics measured from the fixture tables (profile_inputs.py)
PROFILE = os.path.join(os.path.dirname(os.path.abspath(__file__)), "inputs", "sf0.1.json")
HEAP = "3g"
# Spark on JDK 17 outside spark-submit needs these (the repository's
# build.sbt passes the same list to forked runs).
ADD_OPENS = [f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in (
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
    "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
    "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar")]


def pid_alive(pid):
    try:
        os.kill(pid, 0)
        return True
    except ProcessLookupError:
        return False
    except PermissionError:
        return True


def fresh_root():
    """A new, empty run root; roots left by killed runs are removed."""
    os.makedirs(RUNS, exist_ok=True)
    for d in glob.glob(os.path.join(RUNS, "r*-*")):
        try:
            if not pid_alive(int(os.path.basename(d)[1:].split("-")[0])):
                shutil.rmtree(d, ignore_errors=True)
        except ValueError:
            pass
    root = os.path.join(RUNS, f"r{os.getpid()}-{uuid.uuid4().hex[:8]}")
    os.makedirs(root)
    return os.path.abspath(root)


def cpu_times():
    """(steal, total) jiffies of all CPUs, from /proc/stat (Linux)."""
    try:
        with open("/proc/stat") as fh:
            f = [int(x) for x in fh.readline().split()[1:]]
        return f[7], sum(f)
    except (OSError, ValueError, IndexError):
        return 0, 0


def git_commit():
    try:
        return subprocess.run(["git", "rev-parse", "HEAD"], capture_output=True,
                              text=True, timeout=10).stdout.strip() or None
    except (OSError, subprocess.SubprocessError):
        return None


def run_jvm(classes, args, root, budget_s):
    out = os.path.join(root, "raw.json")
    jars = os.path.join(build.spark_jars(), "*")
    cmd = (["java", "-XX:-UsePerfData", f"-Xms{HEAP}", f"-Xmx{HEAP}", "-Xss4m",
            f"-Djava.io.tmpdir={os.path.join(root, 'tmp')}"] + ADD_OPENS +
           ["-cp", f"{classes}:{jars}", "perfbench.Main",
            "--workload", args.workload, "--seed", str(args.seed),
            "--seconds", str(args.seconds), "--trace", str(args.trace),
            "--root", os.path.join(root, "w"), "--out", out, "--profile", PROFILE])
    os.makedirs(os.path.join(root, "tmp"))
    proc = subprocess.Popen(cmd, stdout=sys.stderr, stderr=sys.stderr)
    try:
        code = proc.wait(timeout=budget_s)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()
        raise SystemExit(f"perfbench: the run exceeded {budget_s:.0f} s and was killed")
    except BaseException:
        proc.kill()
        proc.wait()
        raise
    if code != 0 or not os.path.exists(out):
        raise SystemExit(f"perfbench: the benchmark JVM exited with code {code}")
    with open(out) as fh:
        return json.load(fh)


def main():
    p = argparse.ArgumentParser(description=__doc__, formatter_class=argparse.RawDescriptionHelpFormatter)
    p.add_argument("--workload", required=True, choices=WORKLOADS)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--record", help="append this run's metrics and environment to FILE")
    args = p.parse_args()
    start = time.time()
    classes = build.build()
    built_s = time.time() - start
    # a run must end within 180 s; the first one in a checkout, which
    # compiles, within 900 s
    budget = (800 if built_s > 60 else 175) - built_s
    env = {"seed": args.seed, "git_commit": git_commit(),
           "source_sha256": build.digest(build.sources(), build.spark_jars()),
           "loadavg_before": os.getloadavg()}
    steal0, total0 = cpu_times()
    root = fresh_root()
    try:
        raw = run_jvm(classes, args, root, budget)
    finally:
        shutil.rmtree(root, ignore_errors=True)
    env.update(raw["env"])
    env["loadavg_after"] = os.getloadavg()
    steal1, total1 = cpu_times()
    # CPU time the hypervisor gave to other guests while this run waited
    env["cpu_steal_frac"] = (steal1 - steal0) / (total1 - total0) if total1 > total0 else 0.0
    env["cores"] = raw["cores"]

    attempted, failed = metrics.failures(raw)
    correct = failed == 0 and all(c["ok"] for c in raw["checks"])
    for c in raw["checks"]:
        print(f"CHECK {'ok  ' if c['ok'] else 'FAIL'} {c['name']}: {c['detail']}", file=sys.stderr)
    e2e, e2e_info = metrics.end_to_end(raw)
    # where the run's wall time went: the set-ups, the untimed warm-up
    # period, the timed loop and the output checks
    e2e_info["phases_s"] = {"setups": raw["setup_s"], "warmup": raw["warmup_s"],
                            "loop": raw["loop_s"], "check": raw["check_s"],
                            "run": time.time() - start}
    if args.trace:
        values, report = metrics.per_layer(raw)
        units = dict(metrics.PER_LAYER)
        report.update({f"traced.{k}": v for k, v in e2e.items()})
        report.update(e2e_info)
        report["spans"] = raw["spans"]
        print("TRACE " + json.dumps({"workload": args.workload, "env": env, "layers": report},
                                    sort_keys=True))
    else:
        values = e2e
        units = dict(metrics.END_TO_END)
        print("RUN " + json.dumps({"workload": args.workload, "env": env, **e2e_info}, sort_keys=True))
    result = {"correct": correct, "attempted": attempted, "failed": failed,
              "metrics": {k: {"value": values[k], "unit": u} for k, u in units.items()}}
    if args.record:
        with open(args.record, "a") as fh:
            fh.write(json.dumps({"workload": args.workload, "env": env, **result}) + "\n")
    print(json.dumps(result))


if __name__ == "__main__":
    main()

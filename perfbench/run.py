"""graft's benchmark: one command that builds, runs, checks and reports.

    python3 perfbench/run.py --workload graph_reduce --seed 1 --seconds 20 --trace 0

From the root of a checkout it builds graft and the harness
(perfbench/build.py), generates the workload's inputs from the seed
(perfbench/gen.py) into a fresh directory under `.bench_work/`, runs
the harness in a fresh JVM on `local[<cores>]`, checks every checked
output against DuckDB (perfbench/check.py) and prints a report. The
last line of standard output is one JSON object:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

With `--trace 0` the metrics are the end-to-end ones, measured with
tracing off; with `--trace 1` they are the per-layer ones from a
traced run. See BENCHMARK.json for every metric's meaning.
"""
import argparse
import json
import os
import shutil
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import build  # noqa: E402
import check  # noqa: E402
import gen  # noqa: E402
import stats  # noqa: E402
import workloads  # noqa: E402

ROOT = os.path.dirname(HERE)
SETUPS = 3          # set-ups per run; setup_s is their median
RUN_LIMIT_S = 170   # a run must end within 180 s
JVM_HEAP = "2g"  # fixed (-Xms = -Xmx), so peak RSS does not follow heap resizing
# What spark-submit would pass to a JDK 17 driver.
ADD_OPENS = [f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in (
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net", "java.nio",
    "java.util", "java.util.concurrent", "java.util.concurrent.atomic", "sun.nio.ch",
    "sun.nio.cs", "sun.security.action", "sun.util.calendar")]


def cores():
    return len(os.sched_getaffinity(0))


def run_jvm(classpath, plan_path, result_path, log_path, deadline):
    cmd = ["java", f"-Xms{JVM_HEAP}", f"-Xmx{JVM_HEAP}", "-XX:+UseParallelGC", *ADD_OPENS,
           "-Djava.io.tmpdir=" + os.path.dirname(plan_path),
           "-cp", classpath, "graftbench.Main", plan_path, result_path]
    with open(log_path, "w") as log:
        p = subprocess.Popen(cmd, cwd=ROOT, stdout=log, stderr=subprocess.STDOUT,
                             stdin=subprocess.DEVNULL, start_new_session=True)
        try:
            rc = p.wait(timeout=max(1.0, deadline - time.monotonic()))
        except subprocess.TimeoutExpired:
            os.killpg(p.pid, signal.SIGKILL)
            p.wait()
            raise RuntimeError("harness JVM timed out")
    if rc != 0:
        with open(log_path, errors="replace") as f:
            raise RuntimeError(f"harness JVM exited with {rc}:\n" + f.read()[-4000:])
    with open(result_path) as f:
        return json.load(f)


def tally(result, checks):
    """Operations attempted are the timed ones plus the checks. An
    operation that threw and a check whose output is wrong both count
    as failed; `correct` is false when any output was wrong."""
    ops = [o for p in result["passes"] for o in p["ops"]]
    wrong = sum(1 for _, why in checks if why is not None)
    return {"correct": wrong == 0, "attempted": len(ops) + len(checks),
            "failed": sum(1 for o in ops if not o["ok"]) + wrong}


# Units of the figures only the report prints.
REPORT_UNITS = {"passes": "count", "read_samples": "count", "read_tail_level": "%",
                "commit_p50_s": "s", "commit_p90_s": "s", "commit_samples": "count",
                "commit_tail_level": "%", "table_mb": "MB", "fail_ratio": "ratio"}


def report(workload, info, figures, checks, failed_ops):
    print(f"# graft benchmark · workload {workload} · seed {info['seed']}")
    print("# inputs: " + ", ".join(f"{t} {v['rows']} rows {v['bytes']} B"
                                   for t, v in sorted(info["tables"].items())))
    units = {**declared_metrics(False), **REPORT_UNITS}
    for k, v in figures.items():
        print(f"#   {k:20s} {v} {units[k]}")
    for cid, why in checks:
        print(f"#   check {cid:28s} {'ok' if why is None else 'WRONG: ' + why}")
    for o in failed_ops:
        print(f"#   failed {o['name']} (op {o['idx']}): {o.get('error', '')[:200]}")


def declared_metrics(trace):
    """{name: unit} of the metrics BENCHMARK.json declares for the mode."""
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    return {m["name"]: m["unit"] for m in spec["per_layer" if trace else "end_to_end"]}


def main(argv=None):
    ap = argparse.ArgumentParser(description="graft benchmark")
    ap.add_argument("--workload", required=True, choices=gen.WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args(argv)
    started = time.monotonic()

    try:
        classpath = build.build()
    except build.BuildError as e:
        print(f"build failed: {e}", file=sys.stderr)
        return 2
    built = time.monotonic()
    # A run that had to build may take longer; its measuring part still
    # gets RUN_LIMIT_S.
    deadline = (started if built - started < 60 else built) + RUN_LIMIT_S
    work = os.path.join(ROOT, ".bench_work", f"{a.workload}-{a.seed}-{a.trace}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    try:
        inputs = os.path.join(work, "in")
        info = gen.generate(a.workload, a.seed, inputs)
        stream = None
        if a.workload == "warehouse":
            with open(os.path.join(inputs, "stream.json")) as f:
                stream = json.load(f)
        plan = workloads.plan(a.workload, inputs, work, a.seconds, a.trace, cores(), SETUPS,
                              stream)
        plan_path = os.path.join(work, "plan.json")
        with open(plan_path, "w") as f:
            json.dump(plan, f)
        result = run_jvm(classpath, plan_path, os.path.join(work, "result.json"),
                         os.path.join(work, "jvm.log"), deadline)
        checks = check.verify(plan, result)
    except Exception as e:  # noqa: BLE001 - any failure means no result
        print(f"benchmark failed: {e}", file=sys.stderr)
        return 1
    finally:
        shutil.rmtree(work, ignore_errors=True)

    out = tally(result, checks)
    e2e, extra = stats.end_to_end(result)
    extra["fail_ratio"] = out["failed"] / out["attempted"]
    report(a.workload, info, {**e2e, **extra}, checks,
           [o for p in result["passes"] for o in p["ops"] if not o["ok"]])
    metrics = stats.per_layer(result) if a.trace else e2e
    out["metrics"] = {k: {"value": metrics[k], "unit": u}
                      for k, u in declared_metrics(a.trace).items()}
    print(json.dumps(out))
    return 0


if __name__ == "__main__":
    sys.exit(main())

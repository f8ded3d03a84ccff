"""Metrics from the harness's raw record: percentiles, span self time,
and the end-to-end and per-layer metrics BENCHMARK.json names."""
import statistics

# Layers whose operations are operator calls (see workloads.py).
OPERATOR_LAYERS = ("graph", "dedup", "text", "bpe", "similarity")
COMMIT_KINDS = ("insert", "merge", "update", "delete", "optimize")
LEVELS = (50, 75, 90, 95, 99, 99.9)
SPARK_SUMS = ("task_run_s", "task_cpu_s", "gc_s", "sched_delay_s", "shuffle_write_mb",
              "shuffle_read_mb", "spill_mb")


def tail_level(n):
    """The highest percentile level with at least ten samples beyond
    it, or None when n < 20."""
    ok = [p for p in LEVELS if n * (100 - p) >= 1000 - 1e-6]
    return max(ok) if ok else None


def percentile(values, p):
    """Linear interpolation between closest ranks."""
    v = sorted(values)
    if not v:
        return 0.0
    r = p / 100 * (len(v) - 1)
    lo = int(r)
    hi = min(lo + 1, len(v) - 1)
    return v[lo] + (v[hi] - v[lo]) * (r - lo)


def median(values):
    return statistics.median(values) if values else 0.0


def union_length(intervals):
    total, end = 0.0, None
    for a, b in sorted(intervals):
        if end is None or a > end:
            total += b - a
            end = b
        elif b > end:
            total += b - end
            end = b
    return total


def self_times(spans):
    """{span id: duration minus the part of it its children cover}."""
    kids = {}
    for s in spans:
        kids.setdefault(s["parent"], []).append(s)
    out = {}
    for s in spans:
        cover = [(max(c["t0"], s["t0"]), min(c["t1"], s["t1"])) for c in kids.get(s["id"], [])]
        cover = [(a, b) for a, b in cover if b > a]
        out[s["id"]] = (s["t1"] - s["t0"]) - union_length(cover)
    return out


def latencies(result, kind):
    return [o["t_s"] for p in result["passes"] for o in p["ops"] if o["kind"] == kind and o["ok"]]


def end_to_end(result):
    """The metrics of an untraced run, plus what the report prints."""
    walls = [p["wall_s"] for p in result["passes"]]
    reads = latencies(result, "read")
    commits = latencies(result, "commit")
    m = {
        "setup_s": median([s["total_s"] for s in result["setups"]]) + result["warmup_s"],
        "wall_s": median(walls),
        "read_p50_s": percentile(reads, 50),
        "read_p90_s": percentile(reads, 90),
        "spark_jobs": median([p["jobs"] for p in result["passes"]]),
        "peak_rss_mb": result["peak_rss_mb"],
    }
    extra = {"passes": len(walls), "read_samples": len(reads),
             "read_tail_level": tail_level(len(reads))}
    if commits:
        extra.update(commit_p50_s=percentile(commits, 50), commit_p90_s=percentile(commits, 90),
                     commit_samples=len(commits), commit_tail_level=tail_level(len(commits)))
    if "table_mb" in result:
        extra["table_mb"] = result["table_mb"]
    return m, extra


def _pass_of(spans):
    """{span id: id of its pass span}."""
    by_id = {s["id"]: s for s in spans}
    out = {}
    for s in spans:
        r = s
        while r["parent"] >= 0:
            r = by_id[r["parent"]]
        out[s["id"]] = r["id"]
    return out


def per_layer(result):
    spans = result["spans"]
    by_id = {s["id"]: s for s in spans}
    root = _pass_of(spans)
    passes = sorted({r for r in root.values()})
    cores = result["cores"]

    # Jobs become spans under the phase whose job group they carry. A
    # job launched from a thread that did not inherit the group (an
    # operator's own thread pool) hangs under the innermost span open
    # when it started: one driver thread issues the operations.
    jobs = []
    for j in result["jobs"]:
        parent = j["parent"]
        if parent < 0:
            open_then = [s for s in spans if s["t0"] <= j["t0"] <= s["t1"]]
            if not open_then:
                continue
            parent = max(open_then, key=lambda s: s["t0"])["id"]
        jobs.append(dict(j, id=f"job{j['id']}", parent=parent, layer="spark", kind="job"))
    tree = spans + jobs
    selfs = self_times(tree)
    for j in jobs:
        root[j["id"]] = root[j["parent"]]
    op_layer = {}  # span id -> layer of the op it belongs to
    for s in spans:
        if s["kind"] in ("op", "phase"):
            op_layer[s["id"]] = s["layer"]
    for j in jobs:
        op_layer[j["id"]] = op_layer.get(j["parent"], "harness")

    per_pass = {p: {} for p in passes}

    def add(p, k, v):
        per_pass[p][k] = per_pass[p].get(k, 0.0) + v

    for p in passes:
        wall = by_id[p]["t1"] - by_id[p]["t0"]
        per_pass[p]["wall"] = wall
    for s in tree:
        p = root[s["id"]]
        layer = op_layer.get(s["id"])
        if s["kind"] == "phase":
            add(p, f"queries.{s['name']}_s", s["t1"] - s["t0"])
        if s["kind"] in ("op", "phase") and layer in OPERATOR_LAYERS:
            add(p, f"{layer}.self_s", selfs[s["id"]])
        if s["kind"] == "op":
            add(p, f"ops.{layer}", 1)
            add(p, f"opwall.{layer}", s["t1"] - s["t0"])
        if s["kind"] == "job":
            for k in ("stages", "tasks", "failed_tasks"):
                add(p, f"spark.{k}", s[k])
            add(p, "spark.jobs", 1)
            for k in SPARK_SUMS:
                add(p, f"spark.{k}", s[k])
            add(p, "tables.scan_mb", s["input_mb"])
            add(p, f"{layer}.jobs", 1)
            add(p, f"{layer}.task_cpu_s", s["task_cpu_s"])
            add(p, f"{layer}.task_run_s", s["task_run_s"])
            add(p, f"{layer}.shuffle_mb", s["shuffle_write_mb"])
            add(p, f"{layer}.spill_mb", s["spill_mb"])
            add(p, f"{layer}.output_mb", s["output_mb"])

    def med(k):
        return median([per_pass[p].get(k, 0.0) for p in passes])

    m = {
        "session.build_s": median([s["build_s"] for s in result["setups"]]),
        "session.configure_s": median([s["configure_s"] for s in result["setups"]]),
        "tables.load_s": median([s["load_s"] for s in result["setups"]]),
        "tables.scan_mb": med("tables.scan_mb"),
    }
    for ph in ("build", "plan", "exec"):
        m[f"queries.{ph}_s"] = med(f"queries.{ph}_s")
    for layer in OPERATOR_LAYERS:
        for k in ("self_s", "jobs", "task_cpu_s", "shuffle_mb", "spill_mb"):
            m[f"{layer}.{k}"] = med(f"{layer}.{k}")
    graph_ops = sum(per_pass[p].get("ops.graph", 0) for p in passes)
    m["graph.jobs_per_op"] = sum(per_pass[p].get("graph.jobs", 0) for p in passes) / graph_ops \
        if graph_ops else 0.0
    m["graph.busy_ratio"] = median([
        per_pass[p].get("graph.task_run_s", 0.0) / (per_pass[p]["opwall.graph"] * cores)
        for p in passes if per_pass[p].get("opwall.graph")])

    # versioned: latencies from every pass of the run, counts from the
    # traced passes
    ops = [o for p in result["passes"] for o in p["ops"]]
    for kind in COMMIT_KINDS:
        m[f"versioned.commit_s.{kind}"] = median(
            [o["t_s"] for o in ops if o["name"] == kind and o["ok"]])
    wh_reads = [o for o in ops if o["layer"] == "versioned" and o["kind"] == "read" and o["ok"]]
    m["versioned.read_s"] = median([o["t_s"] for o in wh_reads])
    op_spans = [s for s in spans if s["kind"] == "op" and s["layer"] == "versioned"]
    commit_names = set(COMMIT_KINDS)
    n_commit = sum(1 for s in op_spans if s["name"] in commit_names)
    n_read = len(op_spans) - n_commit
    op_of = {}  # op or phase span id -> operation name
    for s in spans:
        if s["kind"] == "op":
            op_of[s["id"]] = s["name"]
        elif s["kind"] == "phase":
            op_of[s["id"]] = by_id[s["parent"]]["name"]
    commit_jobs = sum(1 for j in jobs if op_of.get(j["parent"]) in commit_names)
    read_jobs = sum(1 for j in jobs if op_layer[j["id"]] == "versioned"
                    and op_of.get(j["parent"]) not in commit_names)
    traced_commits = [o for p in result["passes"] if p["traced"] for o in p["ops"]
                      if o["kind"] == "commit"]
    m["versioned.commit_jobs"] = commit_jobs / n_commit if n_commit else 0.0
    m["versioned.read_jobs"] = read_jobs / n_read if n_read else 0.0
    m["versioned.files_written"] = sum(o.get("new_files", 0) for o in traced_commits) / len(
        traced_commits) if traced_commits else 0.0
    m["versioned.bytes_written_mb"] = med("versioned.output_mb")

    for k in ("jobs", "stages", "tasks", "failed_tasks") + SPARK_SUMS:
        m[f"spark.{k}"] = med(f"spark.{k}")
    m["spark.busy_ratio"] = median([per_pass[p].get("spark.task_run_s", 0.0) /
                                    (per_pass[p]["wall"] * cores) for p in passes])
    traced = [p["wall_s"] for p in result["passes"] if p["traced"]]
    untraced = [p["wall_s"] for p in result["passes"] if not p["traced"]]
    m["trace.overhead_s"] = median(traced) - median(untraced)
    # time inside a traced pass but outside every operation
    m["trace.unattributed_s"] = median([selfs[p] for p in passes])
    return m

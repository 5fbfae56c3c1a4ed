"""Pure metric arithmetic for perfbench: percentiles with their sample
rule, error rate, idle time between tasks, the batch correctness check,
and the reduction of one Driver run's raw measurements to metrics."""
import math
import re
import statistics

NAME_RE = re.compile(r"^[A-Za-z0-9][A-Za-z0-9_.-]{0,63}$")

LOOPS = ["q95_pagerank", "q101_bpe_train", "q120_doremi_iterate"]
ENTRIES = {"batch_loops": LOOPS}

LATENCY_LIMIT_MS = 10.0   # estimate p99 limit of a ladder step
LAG_LIMIT_MS = 10.0       # generator lateness p99 at the reported step above
                          # this marks a run invalid
HEADLINE_RATE = 500       # ladder step whose latency is reported


def end_to_end_names():
    return ["setup_s", "latency_ms", "slow_ms", "throughput_per_s"]


def per_layer_names():
    names = ["sessions.build_s", "sessions.warmup_s"]
    for e in LOOPS:
        names += [f"op.{e}.{k}" for k in (
            "wall_s", "build_s", "jobs", "checkpoint_jobs", "no_task_s")]
    for w in ENTRIES:
        names += [f"{w}.{k}" for k in (
            "tasks", "task_run_s", "gc_s", "shuffle_write_bytes",
            "shuffle_read_bytes", "spill_bytes", "input_bytes",
            "checkpoint_jobs")]
    names += ["kernel.estimate_us", "kernel.heavy_estimate_us", "engine.sweep_s",
              "api.estimate_us", "http.server_overhead_ms",
              "http.generator_lag_p99_ms", "http.save_p50_ms",
              "http.list_p50_ms",
              "store.save_ms", "store.list_ms", "store.reload_ms",
              "store.delete_ms", "store.save_jobs", "store.list_jobs",
              "stream.latency_p50_ms", "stream.trigger_ms",
              "stream.add_batch_ms", "stream.get_batch_ms",
              "stream.query_planning_ms", "stream.wal_commit_ms",
              "stream.jobs_per_batch", "stream.no_task_ms_per_batch",
              "stream.rows_per_batch", "stream.score_ms",
              "stream.sink_write_ms",
              "trace.overhead_ms"]
    return names


# ---- percentiles -------------------------------------------------------

def percentile(values, p):
    """Nearest-rank percentile; failed samples are passed as math.inf."""
    xs = sorted(values)
    if not xs:
        raise ValueError("percentile of no samples")
    k = max(1, math.ceil(p / 100.0 * len(xs)))
    return xs[k - 1]


def highest_supported(n, candidates=(99.9, 99.0, 90.0, 75.0, 50.0)):
    """The highest percentile with at least ten samples beyond it, or 50
    (the median) when even that is not supported."""
    for p in candidates:
        if n * (1.0 - p / 100.0) >= 10.0 - 1e-9:
            return p
    return 50.0


def tail(values):
    """(percentile, value, count) for the highest supported percentile."""
    p = highest_supported(len(values))
    return p, percentile(values, p), len(values)


def error_rate(attempted, failed):
    if attempted <= 0:
        raise ValueError("no operation attempted")
    if failed < 0 or failed > attempted:
        raise ValueError(f"failed={failed} outside 0..{attempted}")
    return failed / attempted


# ---- idle time between tasks -------------------------------------------

def covered(intervals, lo, hi):
    """Length of [lo, hi] covered by the union of the intervals."""
    segs = sorted((max(s, lo), min(e, hi)) for s, e in intervals
                  if min(e, hi) > max(s, lo))
    total, cur_s, cur_e = 0.0, None, None
    for s, e in segs:
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def no_task(intervals, lo, hi):
    """Time inside [lo, hi] with no task running."""
    return (hi - lo) - covered(intervals, lo, hi)


def self_times(spans):
    """Each span's duration minus the part of it its child spans cover."""
    kids = {}
    for s in spans:
        kids.setdefault(s["parent"], []).append((s["start_ms"], s["end_ms"]))
    return {s["id"]: (s["end_ms"] - s["start_ms"])
            - covered(kids.get(s["id"], []), s["start_ms"], s["end_ms"])
            for s in spans}


# ---- correctness ---------------------------------------------------------

def batch_mismatches(expected, observed, entries):
    """Entries whose row count or hash differs from the recorded values, or
    that produced no fingerprint at all."""
    bad = []
    for e in entries:
        exp, got = expected.get(e), observed.get(e)
        if exp is None or got is None or exp["rows"] != got["rows"] \
                or exp["hash"] != got["hash"]:
            bad.append(e)
    return bad


# ---- reduction of one run ------------------------------------------------

def _med(xs):
    return statistics.median(xs) if xs else 0.0


def _subtree(spans, root):
    kids = {}
    for s in spans:
        kids.setdefault(s["parent"], []).append(s["id"])
    out, todo = set(), [root]
    while todo:
        i = todo.pop()
        out.add(i)
        todo += kids.get(i, [])
    return out


def _task_sums(tasks):
    return {
        "tasks": len(tasks),
        "task_run_s": sum(t["run_ms"] for t in tasks) / 1000.0,
        "gc_s": sum(t["gc_ms"] for t in tasks) / 1000.0,
        "shuffle_write_bytes": sum(t["shuffle_write_bytes"] for t in tasks),
        "shuffle_read_bytes": sum(t["shuffle_read_bytes"] for t in tasks),
        "spill_bytes": sum(t["spill_bytes"] for t in tasks),
        "input_bytes": sum(t["input_bytes"] for t in tasks),
    }


def _pass_s(run):
    return sum(run["entries"].values())


def batch_report(raw, expected):
    w = raw["workload"]
    entries = ENTRIES[w]
    runs = raw["runs"]
    per_entry = {e: _med([r["entries"][e] for r in runs]) for e in entries}
    pass_s = _med([_pass_s(r) for r in runs])
    rows = sum(f["rows"] for f in raw.get("fingerprints", {}).values())
    rep = {"pass_s": pass_s, "passes": len(runs),
           "pass_s_each": [_pass_s(r) for r in runs],
           "warmup_pass_s": [_pass_s(r) for r in raw.get("warmup_passes", [])],
           "jit_ms_each": [r["jit_ms"] for r in runs],
           "entry_s_each": {e: [r["entries"][e] for r in runs] for e in entries},
           "slowest_entry": max(per_entry, key=per_entry.get),
           "slowest_entry_s": max(per_entry.values()),
           "entry_s": per_entry, "output_rows": rows,
           "mismatched_entries": batch_mismatches(
               expected.get(w, {}), raw.get("fingerprints", {}), entries)}
    e2e = {"setup_s": raw["setup_s"], "latency_ms": pass_s * 1000.0,
           "slow_ms": rep["slowest_entry_s"] * 1000.0,
           "throughput_per_s": rows / pass_s}
    # the warm-up already counted each entry as attempted
    return rep, e2e, (0, len(rep["mismatched_entries"]))


def batch_layers(raw):
    w = raw["workload"]
    spans, jobs, tasks = raw["spans"], raw["jobs"], raw["tasks"]
    by_name = {s["name"]: s for s in spans if s["parent"] == 0}
    out = {}
    for e in ENTRIES[w]:
        s = by_name[f"op.{e}"]
        ids = _subtree(spans, s["id"])
        js = {j["job"] for j in jobs if j["span"] in ids}
        iv = [(t["start_ms"], t["end_ms"]) for t in tasks if t["job"] in js]
        out[f"op.{e}.wall_s"] = (s["end_ms"] - s["start_ms"]) / 1000.0
        out[f"op.{e}.jobs"] = len(js)
        out[f"op.{e}.checkpoint_jobs"] = sum(1 for j in jobs if j["job"] in js and j["checkpoint"])
        out[f"op.{e}.no_task_s"] = no_task(iv, s["start_ms"], s["end_ms"]) / 1000.0
        b = [c for c in spans if c["parent"] == s["id"] and c["name"] == "build"]
        out[f"op.{e}.build_s"] = sum(c["end_ms"] - c["start_ms"] for c in b) / 1000.0
    sums = _task_sums(tasks)
    for k, v in sums.items():
        out[f"{w}.{k}"] = v
    out[f"{w}.checkpoint_jobs"] = sum(1 for j in jobs if j["checkpoint"])
    traced = _pass_s(raw["traced_run"])
    out["trace.overhead_ms"] = (traced - _med([_pass_s(r) for r in raw["runs"]])) * 1000.0
    return out


def _step_stats(step):
    lat = [x if ok else math.inf for x, ok in zip(step["latency_ms"], step["ok"])]
    n = len(lat)
    p, tv, _ = tail(lat)
    last = lat[n - max(1, n // 10):]
    return {"rate": step["rate"], "count": n, "failed": n - sum(step["ok"]),
            "p50_ms": percentile(lat, 50), "p90_ms": percentile(lat, 90),
            "tail_pct": p, "tail_ms": tv,
            "last_decile_p50_ms": percentile(last, 50),
            "lag_p99_ms": percentile(step["lag_ms"], 99),
            "meets_limit": tv <= LATENCY_LIMIT_MS and p >= 99.0
            and percentile(last, 50) <= LATENCY_LIMIT_MS and sum(step["ok"]) == n}


def http_report(raw):
    steps = [_step_stats(s) for s in raw["runs"][0]["steps"]]
    head = next(s for s in steps if s["rate"] == HEADLINE_RATE)
    passing = [s["rate"] for s in steps if s["meets_limit"]]
    writes = [c for s in raw["runs"][0]["steps"] for c in s["writes"]]
    save = [c["save"] for c in writes if "save" in c]
    lst = [c["list"] for c in writes if "list" in c]
    # a whole cycle (save, reload, delete, list) is four Spark-backed
    # calls; its median is steadier than any one call's
    cycle = [sum(c.get(k, 0.0) for k in ("save", "reload", "delete", "list"))
             for c in writes]
    lag = head["lag_p99_ms"]
    sweeps = raw["runs"][0]["sweep_s"]
    sweep_s = _med(sweeps)
    rep = {"steps": steps, "estimate_p50_ms": head["p50_ms"],
           "estimate_p99_ms": head["tail_ms"], "estimate_tail_pct": head["tail_pct"],
           "estimate_count": head["count"],
           "estimate_max_rps": max(passing) if passing else 0,
           "save_p50_ms": _med(save), "save_count": len(save),
           "list_p50_ms": _med(lst), "list_count": len(lst),
           "write_cycle_p50_ms": _med(cycle), "write_cycles": len(cycle),
           "generator_lag_p99_ms": lag, "valid": lag <= LAG_LIMIT_MS,
           "write_cycle_late_max_ms": max((c["late"] for c in writes), default=0.0),
           "sweep_s": sweep_s, "sweeps": len(sweeps),
           "sweep_rows_per_s": raw["runs"][0]["sweep_rows"] / sweep_s}
    e2e = {"setup_s": raw["setup_s"], "latency_ms": head["p50_ms"],
           "slow_ms": rep["write_cycle_p50_ms"],
           "throughput_per_s": rep["sweep_rows_per_s"]}
    return rep, e2e, (0, 0)


def http_layers(raw, rep):
    out = {"kernel.estimate_us": raw["kernel_estimate_us"],
           "kernel.heavy_estimate_us": raw["heavy_estimate_us"],
           "api.estimate_us": raw["api_estimate_us"],
           "http.server_overhead_ms": rep["estimate_p50_ms"] - raw["api_estimate_us"] / 1000.0,
           "http.generator_lag_p99_ms": rep["generator_lag_p99_ms"],
           "http.save_p50_ms": rep["save_p50_ms"],
           "http.list_p50_ms": rep["list_p50_ms"]}
    sweep = [s for s in raw["spans"] if s["name"] == "engine.sweep"]
    out["engine.sweep_s"] = sum(s["end_ms"] - s["start_ms"] for s in sweep) / 1000.0
    spans, jobs = raw["store_spans"], raw["store_jobs"]
    for op in ("save", "list", "reload", "delete"):
        ss = [s for s in spans if s["name"] == f"store.{op}"]
        out[f"store.{op}_ms"] = _med([s["end_ms"] - s["start_ms"] for s in ss])
        if op in ("save", "list"):
            ids = {s["id"] for s in ss}
            out[f"store.{op}_jobs"] = sum(1 for j in jobs if j["span"] in ids) / max(1, len(ss))
    traced = _step_stats(raw["traced_run"]["steps"][0])
    out["trace.overhead_ms"] = traced["p50_ms"] - rep["estimate_p50_ms"]
    return out


def _stream_run(run):
    """Each file's due-to-commit latency and the progress of the
    micro-batches that committed files."""
    commit = {p["batch"]: p["start_ms"] + p["duration_ms"].get("triggerExecution", 0)
              for p in run["progress"]}
    lat = [commit[b] - d if b in commit else math.inf
           for d, b in zip(run["due_ms"], run["file_batch"])]
    # numInputRows counts each read of the source; the scorer reads every
    # batch four times, so rows per batch come from the files it committed
    per_file = run["rows"] / len(run["due_ms"])
    files = {}
    for b in run["file_batch"]:
        files[b] = files.get(b, 0) + 1
    data = [dict(p, docs=files[p["batch"]] * per_file)
            for p in run["progress"] if p["batch"] in files]
    return lat, data


def stream_layers(stream):
    """Per-layer metrics of the streaming ingest that follows the traced
    pass of batch_loops."""
    lat, data = _stream_run(stream["run"])
    jobs, tasks = stream["jobs"], stream["tasks"]

    def dur(k):
        return _med([p["duration_ms"].get(k, 0) for p in data])

    idle, njobs = [], 0
    for p in data:
        js = {j["job"] for j in jobs if j["batch"] == p["batch"]}
        njobs += len(js)
        lo = p["start_ms"]
        hi = lo + p["duration_ms"].get("triggerExecution", 0)
        idle.append(no_task([(t["start_ms"], t["end_ms"]) for t in tasks if t["job"] in js], lo, hi))
    nb = max(1, len(data))
    p, tv, n = tail(lat)
    rep = {"stream_latency_p50_ms": percentile(lat, 50),
           "stream_latency_tail_pct": p, "stream_latency_tail_ms": tv,
           "files": n, "batches": len(data), "prep_s": stream["prep_s"]}
    return rep, {
        "stream.latency_p50_ms": rep["stream_latency_p50_ms"],
        "stream.trigger_ms": dur("triggerExecution"),
        "stream.add_batch_ms": dur("addBatch"),
        "stream.get_batch_ms": dur("getBatch"),
        "stream.query_planning_ms": dur("queryPlanning"),
        "stream.wal_commit_ms": dur("walCommit"),
        "stream.jobs_per_batch": njobs / nb,
        "stream.no_task_ms_per_batch": _med(idle),
        "stream.rows_per_batch": sum(p["docs"] for p in data) / nb,
        "stream.score_ms": stream["score_ms"],
        "stream.sink_write_ms": stream["sink_write_ms"]}


def reduce(raw, expected):
    """(report, end-to-end metrics, per-layer metrics or None,
    (operations attempted, failed) beyond those the driver counted)."""
    w = raw["workload"]
    if w in ENTRIES:
        rep, e2e, bad = batch_report(raw, expected)
        layers = batch_layers(raw) if "traced_run" in raw else None
        if "stream" in raw:
            rep["stream"], stream = stream_layers(raw["stream"])
            layers.update(stream)
    else:
        rep, e2e, bad = http_report(raw)
        layers = http_layers(raw, rep) if "traced_run" in raw else None
    if layers is not None:
        if "sessions_build_s" in raw:
            layers["sessions.build_s"] = raw["sessions_build_s"]
            layers["sessions.warmup_s"] = raw["warmup_s"]
        # a layer this workload does not call did no work: it reads 0
        layers = {k: float(layers.get(k, 0.0)) for k in per_layer_names()}
    return rep, e2e, layers, bad


def layer_unit(name):
    if "_ms_per_" in name:
        return "ms"
    for suffix, unit in (("_bytes", "bytes"), ("_us", "us"), ("_ms", "ms"),
                         ("_s", "s"), ("_ratio", "ratio")):
        if name.endswith(suffix):
            return unit
    if name.endswith("rows_per_batch"):
        return "rows"
    return "count"

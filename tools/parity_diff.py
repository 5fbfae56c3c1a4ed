#!/usr/bin/env python3
"""Randomized differential parity harness: the LIVE Python reference kernel
vs the Scala Engine path (VERDICT r7 next-round #1).

Generates --n seeded random EstimationInputs across the full bound space of
/root/reference/src/flink_estimator/models.py:19-84 (plus targeted strata:
tier/latency boundaries, tiny-memory placement errors, VM t-shirts, invalid
inputs, huge-key stateless shapes, fractional node memory), runs every case
through BOTH

  * the reference: pydantic EstimationInput construction (ValidationError ->
    "invalid") then calculate_flink_estimation (ValueError -> "error", else
    "ok" + model_dump), and
  * the repo: graft.tools.ParityRun (a real Dataset sweep over
    Validation.validate + Estimator.estimate),

then field-by-field-compares the full nested result, the status channel, and
the sizing-error message text. Exact equality is demanded everywhere (the
kernel's contract is bit parity); float near-misses are classified separately
so a representation bug reads differently from a logic bug.

Known deliberate divergence (fail-loud policy, ADVICE r1): inputs whose
sizing arithmetic overflows Int give Scala "sizing overflow: ..." where
unbounded-int Python succeeds. The generator stays inside non-overflow
bounds; any case that still lands there is counted as known_overflow, not a
mismatch, and listed for manual review.

Cost control: the reference's packing loop is O(TMs x nodes) so the sampler
caps the implied TaskManager count (~400 for the bulk, ~2000 for a small
heavy stratum) by clamping num_distinct_keys; the cap is a runtime guard,
not a semantic restriction.

Usage:
  python3 tools/parity_diff.py [--n 5000] [--seed 8] [--reuse-scala]

Run from the repo root after `sbt compile`. Writes target/parity/{inputs,
scala_out,python_out}.jsonl + report.json; exit 1 on any mismatch, exit 2
before any run when the reference kernel checkout (REF_SRC) is absent.
"""
import argparse
import json
import math
import os
import random
import subprocess
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
PARITY_DIR = os.path.join(REPO, "target", "parity")
REF_SRC = "/root/reference/src"

SKEWS = ["low", "medium", "high"]
TSIZES = ["S", "M", "L"]
# (memory_mb, cpus) per t-shirt — models.py:12-17
VM_TSHIRT = {"S": (16384, 8), "M": (65536, 16), "L": (96448, 48)}
MM_PCT_MIN = 0.32  # lowest managed-memory fraction (latency <= 0.5)
TM_MEM_MB = 4096


def log_uniform_int(rng, lo, hi):
    return int(round(math.exp(rng.uniform(math.log(lo), math.log(hi)))))


def implied_tm_upper_bound(c):
    """Upper bound on the TM count the kernel will iterate over: the state
    pass sizes ceil(raw/4096) TMs where raw = state_mb / mm_pct, and the
    fixpoint can re-raise N to ceil(raw/cap) with cap >= 4096."""
    state_bytes = (
        c["num_distinct_keys"]
        * (c["medium_statements"] + c["complex_statements"])
        * c["number_flink_applications"]
        * c["avg_record_size_bytes"]
    )
    raw_mb = math.ceil(state_bytes / (1024 * 1024)) / MM_PCT_MIN
    return max(1, math.ceil(raw_mb / TM_MEM_MB))


def clamp_keys_for_tm_cap(rng, c, tm_cap):
    """Resample num_distinct_keys down until the implied TM count fits."""
    tries = 0
    while implied_tm_upper_bound(c) > tm_cap and tries < 200:
        hi = max(2, c["num_distinct_keys"] // 10)
        c["num_distinct_keys"] = log_uniform_int(rng, 1, hi)
        tries += 1
    return c


def base_case(rng):
    name_pool = "abcdefghijklmnopqrstuvwxyz-_ 0123456789éß中"
    name = "".join(rng.choice(name_pool) for _ in range(rng.randint(1, 24)))
    if not name.strip():
        name = "pad" + name
    mem_is_frac = rng.random() < 0.3
    mem = rng.uniform(4096.0, 524288.0) if mem_is_frac else float(
        log_uniform_int(rng, 4096, 524288))
    return {
        "project_name": name,
        "messages_per_second": log_uniform_int(rng, 1, 20_000_000),
        "avg_record_size_bytes": log_uniform_int(rng, 1, 1_048_576),
        "number_flink_applications": rng.choice([1, 1, 1, 2, 2, 3, 4, 8]),
        "num_distinct_keys": log_uniform_int(rng, 1, 1_000_000_000),
        "data_skew_risk": rng.choice(SKEWS),
        "bandwidth_capacity_gbps": log_uniform_int(rng, 1, 10_000),
        "expected_latency_seconds": round(
            math.exp(rng.uniform(math.log(0.01), math.log(60.0))), 6),
        "simple_statements": rng.choice([0, 0, 1, 1, 2, 3, 5, 10]),
        "medium_statements": rng.choice([0, 0, 1, 1, 2, 3, 5, 10]),
        "complex_statements": rng.choice([0, 0, 1, 1, 2, 3, 5, 10]),
        "worker_node_memory_mb": mem,
        "worker_node_cpu_max": rng.randint(2, 256),
        "nb_worker_nodes": rng.choice([1, 1, 1, 2, 3, 3, 5, 10, 50]),
        "worker_node_type": "bare_metal",
        "worker_node_t_size": None,
    }


def gen_cases(n, seed):
    rng = random.Random(seed)
    cases = []

    def add(c):
        cases.append({"idx": len(cases), "input": c})

    # ~60%: sane random bare-metal across the whole space
    for _ in range(int(n * 0.60)):
        add(clamp_keys_for_tm_cap(rng, base_case(rng), 400))

    # ~12%: VM t-shirts (memory/cpu overwritten by the model validator; also
    # tests that supplied ad-hoc values are ignored on the VM path)
    for _ in range(int(n * 0.12)):
        c = base_case(rng)
        c["worker_node_type"] = "VM"
        c["worker_node_t_size"] = rng.choice(TSIZES)
        # t-shirt memory is small (16-96 GB) -> keep the TM count tight
        add(clamp_keys_for_tm_cap(rng, c, 300))

    # ~8%: tiny node memory — the placement-error path (A14), incl. shapes
    # where the JM reservation alone makes node 0 unusable
    for _ in range(int(n * 0.08)):
        c = base_case(rng)
        c["worker_node_memory_mb"] = float(
            rng.choice([1, 100, 513, 600, 1000, 2048, 4000, 4607, 4608, 4609,
                        rng.randint(1, 5000)]))
        add(clamp_keys_for_tm_cap(rng, c, 400))

    # ~6%: boundary grid — latency tiers, JM key tiers, zero statements,
    # record-size pivots (the 100-byte floor and the 64-KiB recScale cap)
    lat_edges = [0.01, 0.1, 0.5, 0.500001, 1.0, 1.000001, 4.999999, 5.0,
                 29.999, 30.0, 31.0, 60.0]
    key_edges = [1, 999, 1000, 10_000_000, 10_000_001,
                 100_000_000, 100_000_001, 1_000_000_000]
    size_edges = [1, 99, 100, 101, 1024, 65536, 65537, 1_000_000]
    for _ in range(int(n * 0.06)):
        c = base_case(rng)
        c["expected_latency_seconds"] = rng.choice(lat_edges)
        c["num_distinct_keys"] = rng.choice(key_edges)
        c["avg_record_size_bytes"] = rng.choice(size_edges)
        if rng.random() < 0.3:
            c["simple_statements"] = 0
            c["medium_statements"] = 0
            c["complex_statements"] = 0
        add(clamp_keys_for_tm_cap(rng, c, 400))

    # ~5%: huge keys with zero stateful statements (state = 0 regardless of
    # keys -> exercises JM L tier + scaling recs at extreme cardinality)
    for _ in range(int(n * 0.05)):
        c = base_case(rng)
        c["num_distinct_keys"] = log_uniform_int(rng, 10 ** 8, 10 ** 12)
        c["medium_statements"] = 0
        c["complex_statements"] = 0
        add(c)

    # ~4%: project-name edges (whitespace padding survives strip; max length)
    for _ in range(int(n * 0.04)):
        c = base_case(rng)
        c["project_name"] = rng.choice([
            " padded ", "\tx\t", "a" * 100, " " * 50 + "y", "é" * 100, "中 文",
        ])
        add(clamp_keys_for_tm_cap(rng, c, 400))

    # small heavy stratum: TM counts up to ~2000 (packing-loop stress)
    for _ in range(20):
        c = base_case(rng)
        c["worker_node_memory_mb"] = float(log_uniform_int(rng, 16384, 524288))
        add(clamp_keys_for_tm_cap(rng, c, 2000))

    # overflow stratum: bandwidth whose Mbps conversion exceeds Int.MaxValue
    # — the DOCUMENTED deliberate divergence (fail-loud policy): Python's
    # unbounded ints succeed, Scala rejects with "sizing overflow". These
    # must land in the known_overflow bucket with python status ok; any
    # other outcome is a real mismatch.
    for _ in range(20):
        c = clamp_keys_for_tm_cap(rng, base_case(rng), 200)
        c["bandwidth_capacity_gbps"] = rng.randint(2_147_484, 10_000_000)
        add(c)

    # remainder: invalid inputs — one violated constraint each, values kept
    # inside JVM type ranges so both sides parse them
    invalid_mutations = [
        ("project_name", ""), ("project_name", "   "), ("project_name", "a" * 101),
        ("messages_per_second", 0), ("messages_per_second", -5),
        ("avg_record_size_bytes", 0), ("number_flink_applications", 0),
        ("num_distinct_keys", 0), ("num_distinct_keys", -1),
        ("data_skew_risk", "LOW"), ("data_skew_risk", "none"),
        ("bandwidth_capacity_gbps", 0), ("bandwidth_capacity_gbps", -1),
        ("expected_latency_seconds", 0.0), ("expected_latency_seconds", -1.0),
        ("simple_statements", -1), ("medium_statements", -1),
        ("complex_statements", -1),
        ("worker_node_memory_mb", 0.0), ("worker_node_memory_mb", -10.0),
        ("worker_node_memory_mb", 524289.0),
        ("worker_node_cpu_max", 1), ("worker_node_cpu_max", 257),
        ("nb_worker_nodes", 0), ("worker_node_type", "vm"),
        ("worker_node_type", "k8s"), ("worker_node_t_size", "XL"),
        ("worker_node_t_size", "s"),
    ]
    while len(cases) < n:
        c = clamp_keys_for_tm_cap(rng, base_case(rng), 400)
        kind = rng.random()
        if kind < 0.9:
            field, bad = rng.choice(invalid_mutations)
            c[field] = bad
        else:
            # VM without a t-shirt: the model_validator reject
            c["worker_node_type"] = "VM"
            c["worker_node_t_size"] = None
        add(c)
    return cases


def run_reference(cases):
    """Run every case through the live reference kernel (cwd is PARITY_DIR so
    the module's logs/ dir lands under target/, never in the read-only
    reference checkout)."""
    os.chdir(PARITY_DIR)
    sys.path.insert(0, REF_SRC)
    import logging

    from flink_estimator import estimation as est  # noqa: E402
    from flink_estimator.models import EstimationInput  # noqa: E402
    from pydantic import ValidationError  # noqa: E402

    # the module logs full model dumps per call; null them for 5k calls
    est.logger.handlers.clear()
    est.logger.addHandler(logging.NullHandler())
    est.logger.setLevel(logging.CRITICAL)
    est.logger.propagate = False

    outs = {}
    for case in cases:
        idx = case["idx"]
        try:
            inp = EstimationInput(**case["input"])
        except ValidationError as e:
            outs[idx] = {"status": "invalid", "error": str(e)}
            continue
        try:
            res = est.calculate_flink_estimation(inp)
            outs[idx] = {"status": "ok", "result": res.model_dump()}
        except ValueError as e:
            outs[idx] = {"status": "error", "error": str(e)}
    os.chdir(REPO)
    return outs


def run_scala(inputs_path, out_path):
    classes = os.path.join(REPO, "target", "scala-2.13", "classes")
    opens = [
        "java.base/java.lang", "java.base/java.lang.invoke",
        "java.base/java.lang.reflect", "java.base/java.io",
        "java.base/java.net", "java.base/java.nio", "java.base/java.util",
        "java.base/java.util.concurrent",
        "java.base/java.util.concurrent.atomic", "java.base/sun.nio.ch",
        "java.base/sun.nio.cs", "java.base/sun.security.action",
        "java.base/sun.util.calendar",
    ]
    cmd = (["java"] + [f"--add-opens={m}=ALL-UNNAMED" for m in opens]
           + ["-cp", f"{classes}:/opt/spark/jars/*",
              "graft.tools.ParityRun", inputs_path, out_path])
    subprocess.run(cmd, check=True, cwd=REPO,
                   stdout=subprocess.DEVNULL, stderr=subprocess.DEVNULL)


def flatten(prefix, obj, out):
    if isinstance(obj, dict):
        for k, v in obj.items():
            flatten(f"{prefix}.{k}" if prefix else k, v, out)
    else:
        out[prefix] = obj


def compare(cases, py_outs, sc_outs):
    mismatches, near_misses, known_overflow = [], [], []
    counts = {"ok": 0, "invalid": 0, "error": 0}
    for case in cases:
        idx = case["idx"]
        py = py_outs[idx]
        sc = sc_outs.get(idx)
        if sc is None:
            mismatches.append({"idx": idx, "kind": "missing_scala_row"})
            continue
        if sc["status"] == "error" and "sizing overflow" in (sc.get("error") or ""):
            if py["status"] != "ok":
                # the divergence contract is "python succeeds where scala
                # fails loudly" — python ALSO failing means something else
                mismatches.append({
                    "idx": idx, "kind": "overflow_contract",
                    "python": py["status"], "scala": sc["error"],
                    "input": case["input"]})
            else:
                known_overflow.append({"idx": idx, "py_status": py["status"],
                                       "scala_error": sc["error"]})
            continue
        if py["status"] != sc["status"]:
            mismatches.append({
                "idx": idx, "kind": "status",
                "python": py["status"], "scala": sc["status"],
                "py_detail": py.get("error"), "scala_detail": sc.get("error"),
                "input": case["input"]})
            continue
        counts[py["status"]] += 1
        if py["status"] == "error":
            # sizing-error message text parity (the A14 error path)
            if py["error"] != sc.get("error"):
                mismatches.append({
                    "idx": idx, "kind": "error_message",
                    "python": py["error"], "scala": sc.get("error"),
                    "input": case["input"]})
            continue
        if py["status"] != "ok":
            continue  # invalid: both rejected; message formats differ by design
        pf, sf = {}, {}
        flatten("", py["result"], pf)
        flatten("", sc.get("result", {}), sf)
        for key in sorted(set(pf) | set(sf)):
            a = pf.get(key)  # python
            b = sf.get(key)  # scala (toJSON omits None -> missing == None)
            if a is None and b is None:
                continue
            if a == b:
                continue
            if (isinstance(a, (int, float)) and isinstance(b, (int, float))
                    and a is not None and b is not None
                    and math.isclose(a, b, rel_tol=1e-9, abs_tol=1e-9)):
                near_misses.append({"idx": idx, "field": key,
                                    "python": a, "scala": b})
                continue
            mismatches.append({
                "idx": idx, "kind": "field", "field": key,
                "python": a, "scala": b, "input": case["input"]})
    return mismatches, near_misses, known_overflow, counts


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--n", type=int, default=5000)
    ap.add_argument("--seed", type=int, default=8)
    ap.add_argument("--reuse-scala", action="store_true",
                    help="reuse target/parity/scala_out.jsonl from a prior run")
    args = ap.parse_args()

    # the reference half runs last: check for it before the Scala half
    if not os.path.isdir(os.path.join(REF_SRC, "flink_estimator")):
        print(f"[parity] reference kernel not found: {REF_SRC}/flink_estimator "
              "is missing; nothing to compare against", file=sys.stderr)
        sys.exit(2)

    os.makedirs(PARITY_DIR, exist_ok=True)
    inputs_path = os.path.join(PARITY_DIR, "inputs.jsonl")
    scala_path = os.path.join(PARITY_DIR, "scala_out.jsonl")

    cases = gen_cases(args.n, args.seed)
    with open(inputs_path, "w") as f:
        for c in cases:
            f.write(json.dumps(c) + "\n")
    print(f"[parity] generated {len(cases)} cases (seed={args.seed})")

    if not (args.reuse_scala and os.path.exists(scala_path)):
        run_scala(inputs_path, scala_path)
    sc_outs = {}
    with open(scala_path) as f:
        for line in f:
            row = json.loads(line)
            sc_outs[row["idx"]] = row
    print(f"[parity] scala: {len(sc_outs)} outcomes")

    py_outs = run_reference(cases)
    with open(os.path.join(PARITY_DIR, "python_out.jsonl"), "w") as f:
        for idx in sorted(py_outs):
            f.write(json.dumps({"idx": idx, **py_outs[idx]}, default=str) + "\n")
    print(f"[parity] python reference: {len(py_outs)} outcomes")

    mismatches, near_misses, known_overflow, counts = compare(
        cases, py_outs, sc_outs)
    report = {
        "n": len(cases), "seed": args.seed,
        "agreed": counts,
        "mismatch_count": len(mismatches),
        "near_miss_count": len(near_misses),
        "known_overflow_count": len(known_overflow),
        "mismatches": mismatches[:200],
        "near_misses": near_misses[:200],
        "known_overflow": known_overflow[:50],
    }
    with open(os.path.join(PARITY_DIR, "report.json"), "w") as f:
        json.dump(report, f, indent=2, default=str)

    print(f"[parity] agreed: {counts} | mismatches: {len(mismatches)} | "
          f"near-misses: {len(near_misses)} | known-overflow: {len(known_overflow)}")
    for m in mismatches[:10]:
        print(f"  MISMATCH idx={m['idx']} {m.get('kind')} "
              f"{m.get('field', '')}: py={m.get('python')!r} "
              f"scala={m.get('scala')!r}")
    if mismatches:
        sys.exit(1)
    print("[parity] PASS")


if __name__ == "__main__":
    main()

#!/usr/bin/env python3
"""perfbench: one workload, one seed, one JSON result line.

    python3 perfbench/run.py --workload batch_loops --seed 1 --seconds 10 --trace 0

Run from the repository root. Builds the program from src/main/scala and
the benchmark driver from perfbench/scala into .bench_build/ (skipped when
the sources are unchanged), runs the driver in a fresh JVM on
local[nproc], checks the outputs, and prints as the last stdout line
{"correct", "attempted", "failed", "metrics"}: the end-to-end metrics
with --trace 0, the per-layer metrics with --trace 1. A readable report
goes to stderr; the full report (provenance, sample counts, every
workload-specific figure) goes to .bench_build/perfbench/results/.

Environment (each checked before anything runs):
  PERFBENCH_SF_DIR  sf0.1 testdata directory (default ~/testdata/sf0.1)
  PERFBENCH_JARS    Spark jars directory, which also holds the Scala
                    compiler (default $SPARK_HOME/jars, else the jars beside
                    the spark-submit on PATH)
"""
import argparse
import hashlib
import json
import os
import re
import shutil
import subprocess
import sys
from pathlib import Path

HERE = Path(__file__).resolve().parent
sys.path.insert(0, str(HERE))
import metrics  # noqa: E402

WORKLOADS = ("batch_loops", "http_serve")
TABLES = ("customer", "documents", "embeddings", "events", "lineitem",
          "nation", "orders", "part", "region", "supplier")
RUN_TIMEOUT_S = 170
HEAP = "4g"
BUILD_TIMEOUT_S = 600
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar"]


class Refused(Exception):
    """A malformed argument, setting or checkout: nothing is run."""


def _int_in(lo, hi):
    def parse(s):
        if not re.fullmatch(r"[0-9]+", s):
            raise argparse.ArgumentTypeError(f"'{s}' is not a whole number")
        v = int(s)
        if not lo <= v <= hi:
            raise argparse.ArgumentTypeError(f"{v} is outside {lo}..{hi}")
        return v
    return parse


def parse_args(argv):
    p = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    p.add_argument("--workload", required=True, choices=WORKLOADS)
    p.add_argument("--seed", required=True, type=_int_in(0, 2**62))
    p.add_argument("--seconds", required=True, type=_int_in(1, 120))
    p.add_argument("--trace", required=True, type=_int_in(0, 1))
    p.add_argument("--record-expected", action="store_true",
                   help="write this run's batch fingerprints to expected.json")
    return p.parse_args(argv)


def settings(env, root):
    sf = Path(env.get("PERFBENCH_SF_DIR", Path.home() / "testdata" / "sf0.1"))
    missing = [t for t in TABLES if not (sf / f"{t}.parquet").exists()]
    if missing:
        raise Refused(f"PERFBENCH_SF_DIR={sf}: missing {', '.join(missing)}")
    submit = shutil.which("spark-submit", path=env.get("PATH"))
    home = env.get("SPARK_HOME") or (Path(submit).resolve().parent.parent if submit else "")
    jars = Path(env.get("PERFBENCH_JARS", Path(home) / "jars"))
    if not list(jars.glob("scala-compiler-2.13*.jar")) or \
            not list(jars.glob("spark-sql_2.13*.jar")):
        raise Refused(f"PERFBENCH_JARS={jars}: no Spark/Scala 2.13 jars")
    srcs = sorted((root / "src/main/scala").rglob("*.scala"))
    if not srcs:
        raise Refused(f"no program sources under {root}/src/main/scala: "
                      "run from the repository root")
    java = shutil.which("java")
    if java is None:
        raise Refused("no java on PATH")
    return {"sf": sf, "jars": jars,
            "srcs": srcs, "java": java,
            "bench_srcs": sorted((HERE / "scala").glob("*.scala")),
            "resources": root / "src/main/resources"}


def _scalac(cfg, out, classpath, srcs, log):
    out.mkdir(parents=True, exist_ok=True)
    argfile = out.parent / (out.name + ".args")
    argfile.write_text("\n".join(str(s) for s in srcs))
    cmd = [cfg["java"], "-XX:-UsePerfData", "-Xss8m", "-Xmx2g", "-cp", f"{cfg['jars']}/*",
           "scala.tools.nsc.Main", "-nowarn", "-d", str(out),
           "-classpath", classpath, f"@{argfile}"]
    r = subprocess.run(cmd, stdout=log, stderr=subprocess.STDOUT,
                       timeout=BUILD_TIMEOUT_S)
    if r.returncode != 0:
        raise RuntimeError(f"compile failed, see {log.name}")


def build(cfg, build_dir):
    """Compile program and driver unless the stamped sources are unchanged."""
    h = hashlib.sha256()
    for f in cfg["srcs"] + cfg["bench_srcs"]:
        h.update(str(f).encode())
        h.update(f.read_bytes())
    stamp = build_dir / "stamp"
    main_cls, bench_cls = build_dir / "classes", build_dir / "bench-classes"
    if stamp.exists() and stamp.read_text() == h.hexdigest():
        return main_cls, bench_cls
    for d in (main_cls, bench_cls):
        shutil.rmtree(d, ignore_errors=True)
    stamp.unlink(missing_ok=True)
    with open(build_dir / "build.log", "w") as log:
        _scalac(cfg, main_cls, f"{cfg['jars']}/*", cfg["srcs"], log)
        _scalac(cfg, bench_cls, f"{main_cls}:{cfg['jars']}/*",
                cfg["bench_srcs"], log)
    stamp.write_text(h.hexdigest())
    return main_cls, bench_cls


def run_driver(cfg, args, classpath, work, raw_path, log_path):
    tmp = work / "tmp"
    tmp.mkdir(parents=True, exist_ok=True)
    env = {k: v for k, v in os.environ.items() if not k.startswith("SPARK_GRAFT_")}
    env["SPARK_LOCAL_DIRS"] = str(tmp)
    # no hsperfdata file in the system temp directory: runs write only
    # inside the checkout
    cmd = [cfg["java"], "-XX:-UsePerfData"]
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    cmd += ["-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
            "-Duser.timezone=UTC", f"-Djava.io.tmpdir={tmp}",
            f"-Dderby.system.home={tmp}", f"-Xmx{HEAP}", f"-Xms{HEAP}",
            "-cp", classpath, "graft.perfbench.Driver",
            args.workload, str(args.seed), str(args.seconds), str(args.trace),
            str(cfg["sf"]), str(work), str(raw_path), str(os.cpu_count() or 1)]
    with open(log_path, "w") as log:
        r = subprocess.run(cmd, stdout=log, stderr=subprocess.STDOUT,
                           env=env, cwd=work, timeout=RUN_TIMEOUT_S)
    if r.returncode != 0 or not raw_path.exists():
        raise RuntimeError(f"driver exited {r.returncode}, see {log_path}")


def loadavg():
    try:
        return Path("/proc/loadavg").read_text().split()[:3]
    except OSError:
        return []


def main(argv):
    args = parse_args(argv)
    root = Path.cwd()
    try:
        cfg = settings(os.environ, root)
    except Refused as e:
        print(f"perfbench: {e}", file=sys.stderr)
        return 2
    build_dir = root / ".bench_build" / "perfbench"
    results = build_dir / "results"
    results.mkdir(parents=True, exist_ok=True)
    expected_path = HERE / "expected.json"
    expected = json.loads(expected_path.read_text()) if expected_path.exists() else {}
    tag = f"{args.workload}-seed{args.seed}-trace{args.trace}"
    work = build_dir / "work" / f"{tag}-{os.getpid()}"
    shutil.rmtree(work, ignore_errors=True)
    work.mkdir(parents=True)
    load_before = loadavg()
    try:
        main_cls, bench_cls = build(cfg, build_dir)
        classpath = f"{bench_cls}:{main_cls}:{cfg['resources']}:{cfg['jars']}/*"
        raw_path = work / "raw.json"
        run_driver(cfg, args, classpath, work, raw_path, results / f"{tag}.log")
        raw = json.loads(raw_path.read_text())
        report, e2e, layers, (extra_attempted, extra_failed) = metrics.reduce(raw, expected)
    except (RuntimeError, subprocess.TimeoutExpired, KeyError, ValueError) as e:
        print(f"perfbench: {type(e).__name__}: {e}", file=sys.stderr)
        return 1
    finally:
        shutil.rmtree(work, ignore_errors=True)
    if args.record_expected:
        if args.workload not in metrics.ENTRIES or raw["failures"]:
            print("perfbench: --record-expected needs a clean batch run", file=sys.stderr)
            return 1
        expected[args.workload] = raw["fingerprints"]
        expected_path.write_text(json.dumps(expected, indent=1, sort_keys=True) + "\n")
        extra_failed = 0
    ops = raw["ops"]
    attempted = sum(o["attempted"] for o in ops.values()) + extra_attempted
    failed = sum(o["failed"] for o in ops.values()) + extra_failed
    valid = report.get("valid", True)
    result = {"correct": failed == 0 and valid, "attempted": attempted,
              "failed": failed, "metrics": {}}
    chosen = layers if args.trace else e2e
    units = {"setup_s": "s", "latency_ms": "ms", "slow_ms": "ms",
             "throughput_per_s": "1/s"}
    for name in (metrics.per_layer_names() if args.trace else metrics.end_to_end_names()):
        result["metrics"][name] = {"value": chosen[name],
                                   "unit": units.get(name, metrics.layer_unit(name))}
    full = {"workload": args.workload, "seed": args.seed, "seconds": args.seconds,
            "trace": args.trace, "nproc": os.cpu_count(),
            "master": raw["master"], "loadavg_before": load_before,
            "setup_phases_s": {k: raw.get(k) for k in (
                "sessions_build_s", "prep_s", "warmup_s", "setup_s")},
            "loadavg_after": loadavg(),
            "ops": {k: dict(o, succeeded=o["attempted"] - o["failed"]) for k, o in ops.items()},
            "failures": raw["failures"],
            "error_rate": metrics.error_rate(attempted, failed),
            "report": report, "end_to_end": e2e, "per_layer": layers,
            "result": result}
    if args.trace:
        for key in ("spans", "store_spans"):
            spans = raw.get(key, [])
            own = metrics.self_times(spans)
            full[key] = [dict(s, self_ms=own[s["id"]]) for s in spans]
        for key in ("jobs", "tasks", "store_jobs"):
            full[key] = raw.get(key, [])
        if "stream" in raw:
            full["stream"] = raw["stream"]
    (results / f"{tag}.json").write_text(json.dumps(full, indent=1, default=str))
    summary = {k: v for k, v in full.items()
               if k not in ("spans", "store_spans", "jobs", "tasks", "store_jobs",
                            "stream", "per_layer", "result")}
    print(json.dumps(summary, indent=1, default=str), file=sys.stderr)
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))

#!/usr/bin/env python3
"""Local stand-in for the driver's correctness gate: for each query output
under OUT_DIR (written by graft.Verify), run the matching oracle SQL from
oracle_sql.json in DuckDB over the same parquet tables, sort columns by name,
and compare row counts, schemas (loosely), and values.

Usage:
  python3 tools/check_oracle.py /root/testdata/sf0.01 /tmp/verify_out
  python3 tools/check_oracle.py --gate          # the full multi-SF gate:
      packages the jar, runs graft.Verify at sf0.001/sf0.01/sf0.1, checks
      every SF against DuckDB; nonzero exit on ANY mismatch (VERDICT r6 #5 —
      one command so every round's gate is three-SF by construction).
      When target/sf1.0 exists (tools/gen_scale.py), it runs as a FOURTH
      SF: q56's recursive-CTE oracle is intractable over the 10x corpus's
      giant near-dup component, so that entry checks through
      tools/cc_check.py (same candidate SQL, union-find components)
      instead — see ROUND8_NOTES §3.
"""
import json, sys, glob, os, math, subprocess
import duckdb

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
GATE_SFS = ["sf0.001", "sf0.01", "sf0.1"]
JAR = os.path.join(REPO, "target/scala-2.13/flinkestimatorspark_2.13-0.1.0.jar")
# Spark 4 on Java 17 outside spark-submit needs the module opens the
# launcher scripts normally inject
JAVA_OPENS = [
    "-XX:+IgnoreUnrecognizedVMOptions",
    *[f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in
      ["java.lang", "java.lang.invoke", "java.lang.reflect", "java.io",
       "java.net", "java.nio", "java.util", "java.util.concurrent",
       "java.util.concurrent.atomic", "jdk.internal.ref", "sun.nio.ch",
       "sun.nio.cs", "sun.security.action", "sun.util.calendar"]]]

TABLES = ["region", "nation", "customer", "supplier", "part",
          "orders", "lineitem", "events", "documents", "embeddings"]

def main(sf_dir, out_dir, skip=()):
    con = duckdb.connect()
    for t in TABLES:
        src = f"{sf_dir}/{t}.parquet"
        if os.path.isdir(src):  # multi-file layout (tools/gen_scale.py)
            src = f"{src}/*.parquet"
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{src}')")
    oracles = json.load(open(os.path.join(out_dir, "oracle_sql.json")))
    # skip is applied at read time (like bench_duckdb's BENCH_DUCKDB_SKIP)
    # so the Verify artifact keeps its full declared oracle set
    oracles = {k: v for k, v in oracles.items() if k not in skip}
    n_pass = n_fail = 0
    for name, sql in sorted(oracles.items()):
        pq = os.path.join(out_dir, name)
        files = glob.glob(f"{pq}/*.parquet")
        if not files:
            print(f"FAIL {name}: no spark output"); n_fail += 1; continue
        try:
            got = con.execute(f"SELECT * FROM read_parquet({files!r})").fetchdf()
            exp = con.execute(sql).fetchdf()
        except Exception as e:
            print(f"FAIL {name}: {e}"); n_fail += 1; continue
        got = got[sorted(got.columns)]
        exp = exp[sorted(exp.columns)]
        if list(got.columns) != list(exp.columns):
            print(f"FAIL {name}: columns {list(got.columns)} != {list(exp.columns)}"); n_fail += 1; continue
        if len(got) != len(exp):
            print(f"FAIL {name}: rows {len(got)} != {len(exp)}"); n_fail += 1; continue
        # The driver hashes TYPED values, so a HUGEINT (DuckDB SUM default)
        # vs BIGINT mismatch fails there even when every value is equal
        # (r4's q49). Both frames come through duckdb fetchdf, so NULL
        # promotion is symmetric and dtype equality is a faithful proxy.
        dt_bad = [(c, str(got[c].dtype), str(exp[c].dtype))
                  for c in got.columns if got[c].dtype != exp[c].dtype]
        if dt_bad:
            c, g, e = dt_bad[0]
            print(f"FAIL {name}: dtype col {c}: spark={g} duckdb={e}"); n_fail += 1; continue
        def eq(a, b):
            if a is None and b is None:
                return True
            if isinstance(a, float) and isinstance(b, float):
                if math.isnan(a) and math.isnan(b):
                    return True
                # SQL NULL in a float column comes back as NaN from fetchdf;
                # tight relative tolerance for residual doubles (ADVICE r1).
                return a == b or abs(a - b) <= 1e-9 * max(1.0, abs(a), abs(b))
            return a == b
        mismatch = None
        for c in got.columns:
            gv, ev = got[c].tolist(), exp[c].tolist()
            if gv != ev:
                for i, (a, b) in enumerate(zip(gv, ev)):
                    if not eq(a, b):
                        mismatch = (c, i, a, b); break
                if mismatch: break
        if mismatch:
            c, i, a, b = mismatch
            print(f"FAIL {name}: col {c} row {i}: spark={a!r} duckdb={b!r}")
            print(f"  dtypes: spark={got[c].dtype} duckdb={exp[c].dtype}")
            n_fail += 1
        else:
            print(f"PASS {name} ({len(got)} rows)")
            n_pass += 1
    print(f"\n{n_pass} pass, {n_fail} fail")
    return 1 if n_fail else 0

def gate():
    subprocess.run(["sbt", "-batch", "package"], cwd=REPO, check=True)
    rc = 0
    sfs = [(sf, f"/root/testdata/{sf}") for sf in GATE_SFS]
    big = os.path.join(REPO, "target/sf1.0")
    if os.path.isdir(big):
        sfs.append(("sf1.0", big))
    for sf, sf_dir in sfs:
        out_dir = f"/tmp/verify_gate_{sf}"
        print(f"\n=== {sf}: graft.Verify -> {out_dir} ===", flush=True)
        subprocess.run(
            ["java", *JAVA_OPENS, "-cp", f"{JAR}:/opt/spark/jars/*",
             "graft.Verify", sf_dir, out_dir],
            cwd=REPO, check=True)
        skip = ()
        if sf == "sf1.0":
            # giant-component corpus: q56/q122 check via union-find
            # (header note) — the recursive-CTE oracle is intractable there
            skip = ("q56_dup_clusters", "q122_neardup_canonical_pairs")
            print(f"=== {sf}: q56 via cc_check ===", flush=True)
            rc |= subprocess.run(
                [sys.executable, os.path.join(REPO, "tools/cc_check.py"),
                 sf_dir, out_dir]).returncode
        print(f"=== {sf}: DuckDB compare ===", flush=True)
        rc |= main(sf_dir, out_dir, skip)
    print(f"\nGATE {'FAIL' if rc else 'PASS'} across {', '.join(s for s, _ in sfs)}")
    return rc

if __name__ == "__main__":
    if sys.argv[1:] == ["--gate"]:
        sys.exit(gate())
    sys.exit(main(sys.argv[1], sys.argv[2]))

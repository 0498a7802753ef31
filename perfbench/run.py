#!/usr/bin/env python3
"""Pipeline benchmark: one closed-loop workload run.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the root of a checkout. Builds the program from source (see
build.py), generates the workload's input from the seed (gen.py), runs
the JVM side (perfbench.Main) on Graft.session(4), checks the outputs,
and prints one line per metric and, last, one JSON object:
{"correct", "attempted", "failed", "metrics"}. --trace 0 reports the
end-to-end metrics of BENCHMARK.json, --trace 1 its per-layer metrics
(and writes the run's spans to .bench_build/trace/). Exits 1 when an
output check fails, 2 when the checkout cannot be benchmarked.
"""
import argparse
import json
import os
import shutil
import subprocess
import sys
import time

sys.dont_write_bytecode = True
HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import build  # noqa: E402
import gen  # noqa: E402

BUILD_DIR = ".bench_build"
JVM_TIMEOUT_S = 170
ADD_OPENS = [
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
    "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
    "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar",
]


def fail(msg: str, code: int = 2):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(code)


def oracle_check(run_dir: str, data_dir: str) -> tuple:
    """p18 output against DuckDB running the query's oracle SQL over the
    same documents table. Returns (ok, share of oracle rows present, detail)."""
    import duckdb
    con = duckdb.connect()
    con.execute(f"SET temp_directory = '{run_dir}/duckdb_tmp'")
    con.execute(f"CREATE VIEW documents AS SELECT * FROM read_parquet('{data_dir}/documents.parquet')")
    sql = open(os.path.join(run_dir, "oracle.sql")).read()
    con.execute(f"CREATE TABLE want AS {sql}")
    con.execute(f"CREATE TABLE got AS SELECT * FROM read_parquet('{run_dir}/p18_out/*.parquet')")
    want_cols = [r[0] for r in con.execute("DESCRIBE want").fetchall()]
    got_cols = [r[0] for r in con.execute("DESCRIBE got").fetchall()]
    if sorted(want_cols) != sorted(got_cols):
        return False, 0.0, f"columns {got_cols}, oracle {want_cols}"
    cols = ", ".join(f'"{c}"' for c in want_cols)
    n_want = con.execute("SELECT count(*) FROM want").fetchone()[0]
    missing = con.execute(f"SELECT count(*) FROM (SELECT {cols} FROM want EXCEPT ALL SELECT {cols} FROM got)").fetchone()[0]
    extra = con.execute(f"SELECT count(*) FROM (SELECT {cols} FROM got EXCEPT ALL SELECT {cols} FROM want)").fetchone()[0]
    ok = n_want > 0 and missing == 0 and extra == 0
    present = (n_want - missing) / n_want if n_want else 0.0
    return ok, present, f"{n_want} oracle rows, {missing} missing, {extra} extra"


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    a = ap.parse_args()

    root = os.getcwd()
    spec_path = os.path.join(root, "BENCHMARK.json")
    if not os.path.isdir(os.path.join(root, "src", "main", "scala")) or not os.path.exists(spec_path):
        fail("run from the root of a checkout holding the program (src/main/scala) and BENCHMARK.json")
    spec = json.load(open(spec_path))
    if a.workload not in {w["name"] for w in spec["workloads"]}:
        fail(f"unknown workload {a.workload}")
    wanted = spec["per_layer" if a.trace else "end_to_end"]

    classpath = build.build(root, BUILD_DIR)
    run_dir = os.path.abspath(os.path.join(BUILD_DIR, "runs", f"{a.workload}-{a.seed}-{os.getpid()}"))
    shutil.rmtree(run_dir, ignore_errors=True)
    try:
        data_dir = os.path.join(run_dir, "data")
        t0 = time.time()
        gen.generate(a.workload, a.seed, data_dir)
        print(f"perfbench: inputs generated in {time.time() - t0:.1f} s", file=sys.stderr)
        os.makedirs(os.path.join(run_dir, "tmp"))
        report_path = os.path.join(run_dir, "report.json")
        # a fixed heap: with a growing heap the resident set follows the
        # collector's sizing decisions, not the program
        cmd = ["java", "-Xms2g", "-Xmx2g", "-XX:-UsePerfData"]
        cmd += [x for p in ADD_OPENS for x in ("--add-opens", f"java.base/{p}=ALL-UNNAMED")]
        cmd += [
            f"-Djava.io.tmpdir={run_dir}/tmp",
            f"-Dlog4j.configurationFile={HERE}/log4j2.properties",
            f"-Dspark.sql.warehouse.dir={run_dir}/warehouse",
            "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
            "-cp", classpath, "perfbench.Main",
            "--workload", a.workload, "--data", data_dir, "--run-dir", run_dir,
            "--seconds", str(a.seconds), "--trace", str(a.trace), "--out", report_path,
        ]
        t0 = time.time()
        proc = subprocess.Popen(cmd, stdout=sys.stderr)
        try:
            code = proc.wait(timeout=JVM_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
            fail(f"JVM did not finish within {JVM_TIMEOUT_S} s", 1)
        print(f"perfbench: JVM exit {code} after {time.time() - t0:.1f} s", file=sys.stderr)
        if not os.path.exists(report_path):
            fail("JVM wrote no report", 1)
        report = json.load(open(report_path))
        if "error" in report:
            fail(f"JVM failed: {report['error']}", 1)

        checks = report["checks"]
        metrics = report["metrics"]
        if a.workload == "curate_p18":
            t0 = time.time()
            ok, present, detail = oracle_check(run_dir, data_dir)
            print(f"perfbench: oracle check {time.time() - t0:.1f} s", file=sys.stderr)
            checks.append({"name": "p18 output equals the DuckDB oracle", "ok": ok, "detail": detail})
            metrics["delivered_share"]["value"] *= present
        if a.trace:
            os.makedirs(os.path.join(BUILD_DIR, "trace"), exist_ok=True)
            with open(os.path.join(BUILD_DIR, "trace", f"{a.workload}-seed{a.seed}.spans.json"), "w") as f:
                json.dump(report["spans"], f)

        missing = [m["name"] for m in wanted if m["name"] not in metrics]
        if missing:
            fail(f"metrics not produced: {missing}", 1)
        for c in checks:
            print(f"check {'ok  ' if c['ok'] else 'FAIL'} {c['name']} {c['detail']}")
        out = {}
        for m in wanted:
            v = metrics[m["name"]]
            out[m["name"]] = {"value": v["value"], "unit": m["unit"]}
            print(f"{a.workload} {m['name']} {v['value']:.6g} {m['unit']}")
        correct = all(c["ok"] for c in checks) and report["failed"] == 0
        print(json.dumps({"correct": correct, "attempted": report["attempted"],
                          "failed": report["failed"], "metrics": out}))
        sys.exit(0 if correct else 1)
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)


if __name__ == "__main__":
    main()

"""Runs one workload of the graft benchmark and prints its result.

    python3 perfbench/run.py --workload serve|build --seed N \
        --seconds S --trace 0|1

Run from the root of a graft checkout. The first run compiles graft and
the benchmark (perfbench/build.py). Each run starts one JVM on
`local[4]`, which generates its inputs from the seed under
`.bench_build/runs/`, sets the workload up (the JVM's cold first work),
measures for S seconds and checks every output; `build` runs
additionally have their PretrainPipeline summary checked against the
DuckDB oracle here. The
last line of stdout is one JSON object: correct, attempted, failed and
metrics (end-to-end with --trace 0, per-layer with --trace 1).
"""
import argparse
import json
import os
import shutil
import subprocess
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import build  # noqa: E402

HEAP = "3g"
JVM_TIMEOUT_S = 170

# build.sbt's --add-opens list: Spark 4 on JDK 17 outside spark-submit
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def jvm(main, args, cwd, timeout=JVM_TIMEOUT_S):
    """Runs a benchmark main class; returns (exit code, stdout)."""
    cp = build.build()
    tmp = os.path.join(build.ROOT, ".bench_build", "tmp")
    os.makedirs(tmp, exist_ok=True)
    # UsePerfData off: the JVM would write hsperfdata under /tmp
    cmd = [build.java(), "-XX:-UsePerfData", f"-Xms{HEAP}", f"-Xmx{HEAP}",
           f"-Djava.io.tmpdir={tmp}"]
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    cmd += ["-cp", cp, main] + args
    proc = subprocess.Popen(cmd, cwd=cwd, stdout=subprocess.PIPE, text=True)
    try:
        out, _ = proc.communicate(timeout=timeout)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()
        raise
    return proc.returncode, out


def oracle_check(work):
    """Compares the last build pass's PretrainPipeline summary with the
    q269 DuckDB oracle over the same generated documents; returns None
    when they match, else the reason.
    """
    req = json.load(open(os.path.join(work, "oracle.json")))
    try:
        import duckdb
    except ImportError as e:
        return f"DuckDB oracle unavailable: {e}"
    con = duckdb.connect()
    # the plan does not change the answer; with the optimizer on, this
    # query takes ~20 s at any corpus size, off about 6 s
    con.execute("PRAGMA disable_optimizer")
    con.execute(f"CREATE VIEW documents AS SELECT * FROM read_parquet('{req['docs']}')")
    want = [list(r) for r in con.sql(req["sql"]).fetchall()]
    got = req["rows"]
    if got != want:
        return f"PretrainPipeline summary differs from the q269 oracle: got {got[:3]}..., want {want[:3]}..."
    return None


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=["serve", "build"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], required=True)
    a = ap.parse_args()

    work = os.path.join(build.ROOT, ".bench_build", "runs",
                        f"{a.workload}-{a.seed}-t{a.trace}")
    try:
        code, out = jvm("graftbench.Main", [
            "--workload", a.workload, "--seed", str(a.seed),
            "--seconds", str(a.seconds), "--trace", str(a.trace),
            "--work", work],
            cwd=os.path.join(build.ROOT, ".bench_build"))
    except (build.BuildError, subprocess.TimeoutExpired) as e:
        print(f"[graftbench] {e}", file=sys.stderr)
        return 2
    lines = [ln for ln in out.splitlines() if ln.strip()]
    if code != 0 or not lines:
        print(f"[graftbench] benchmark JVM exited {code}", file=sys.stderr)
        return 2
    result = json.loads(lines[-1])
    if a.workload == "build":
        t0 = time.time()
        why = oracle_check(work)
        print(f"[graftbench] DuckDB oracle check took {time.time() - t0:.1f} s", file=sys.stderr)
        result["attempted"] += 1
        if why:
            result["failed"] += 1
            result["correct"] = False
            print(f"[graftbench] failed: {why}", file=sys.stderr)
    # keep the reports and spans; drop generated data and databases
    for name in os.listdir(work):
        p = os.path.join(work, name)
        if os.path.isdir(p):
            shutil.rmtree(p, ignore_errors=True)
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())

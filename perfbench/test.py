"""The graft benchmark's own tests.

    python3 perfbench/test.py   (from the root of a graft checkout)

Runs graftbench.SelfTest (generator determinism, every checker against
a perturbed result, job attribution on a live session), then checks that
the DuckDB oracle comparison accepts the summary a real build pass wrote
and rejects a perturbed copy of it. Exits 1 on any failure.
"""
import json
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import build  # noqa: E402
import run  # noqa: E402


def main():
    work = os.path.join(build.ROOT, ".bench_build", "selftest")
    code, out = run.jvm("graftbench.SelfTest", [work],
                        cwd=os.path.join(build.ROOT, ".bench_build"), timeout=600)
    print(out, end="")
    failures = 0 if code == 0 else 1

    def check(name, ok):
        nonlocal failures
        failures += 0 if ok else 1
        print(f"{'PASS' if ok else 'FAIL'} {name}")

    if os.path.exists(os.path.join(work, "oracle.json")):
        check("PretrainPipeline summary matches the q269 DuckDB oracle",
              run.oracle_check(work) is None)
        path = os.path.join(work, "oracle.json")
        req = json.load(open(path))
        req["rows"][0][-1] += 1  # one token more in the first shard
        json.dump(req, open(path, "w"))
        check("the oracle comparison rejects a perturbed summary",
              run.oracle_check(work) is not None)
    else:
        check("SelfTest wrote the oracle request", False)
    print("OK" if failures == 0 else f"{failures} FAILED")
    return 0 if failures == 0 else 1


if __name__ == "__main__":
    sys.exit(main())

#!/usr/bin/env python3
"""Self-tests of the benchmark, on the smoke inputs (sf0.001, tiny UDF inputs).

    python3 benchmark/selftest.py

1. Every workload, untraced and traced, prints every metric BENCHMARK.json
   names for that mode, with its unit, and passes its output checks.
2. A wrong golden digest is reported as a failure, never as a pass.
3. A wrong UDF expectation is reported as a failure, never as a pass.
"""
import json
import os
import subprocess
import sys
import tempfile

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def run(workload, trace=0, extra=()):
    cmd = [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
           "--seed", "7", "--seconds", "1", "--trace", str(trace), "--smoke", *extra]
    out = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.DEVNULL,
                         text=True, cwd=ROOT)
    if out.returncode != 0:
        raise AssertionError(f"{' '.join(cmd)} exited with {out.returncode}")
    lines = out.stdout.strip().splitlines()
    return json.loads(lines[-1]), json.loads(lines[-2])["detail"]


def main():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    failures = []

    def check(name, cond, msg=""):
        print(f"{'ok  ' if cond else 'FAIL'} {name}{': ' + msg if msg and not cond else ''}",
              flush=True)
        if not cond:
            failures.append(name)

    # every workload run.py offers, sql_suite included
    for w in ("sql_suite", "llm_pipeline", "wasm_udf"):
        for trace, key in ((0, "end_to_end"), (1, "per_layer")):
            result, detail = run(w, trace)
            check(f"{w} trace={trace}: keys", set(result) == {"correct", "attempted", "failed", "metrics"})
            check(f"{w} trace={trace}: correct", result["correct"] and result["failed"] == 0
                  and result["attempted"] >= 1, str(detail.get("failures")))
            for m in spec[key]:
                got = result["metrics"].get(m["name"], {})
                check(f"{w} trace={trace}: {m['name']} [{m['unit']}]",
                      got.get("unit") == m["unit"] and isinstance(got.get("value"), (int, float)),
                      f"got {got}")
            if trace == 0:
                for name, m in detail["metrics"].items():
                    check(f"{w}: detail {name} has a unit", bool(m.get("unit")))

    with open(os.path.join(HERE, "golden.json")) as f:
        golden = json.load(f)
    first = "q01"
    rows, h = golden["sf0.001"][first].split(":")
    golden["sf0.001"][first] = f"{rows}:{int(h, 16) ^ 1:016x}"
    with tempfile.NamedTemporaryFile("w", suffix=".json", dir=HERE, delete=False) as f:
        json.dump(golden, f)
    try:
        result, detail = run("sql_suite", 0, ["--golden", f.name])
    finally:
        os.unlink(f.name)
    check("wrong golden digest fails the run", not result["correct"] and result["failed"] >= 1
          and any(x.startswith(first) for x in detail["failures"]))

    result, detail = run("wasm_udf", 0, ["--break-expectation"])
    check("wrong UDF expectation fails the run", not result["correct"] and result["failed"] >= 1
          and any(x.startswith("pow") for x in detail["failures"]))

    print(f"{len(failures)} failures")
    return 1 if failures else 0


if __name__ == "__main__":
    sys.exit(main())

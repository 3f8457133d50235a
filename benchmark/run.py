#!/usr/bin/env python3
"""The repository benchmark: one command per run.

    python3 benchmark/run.py --workload sql_suite|llm_pipeline|wasm_udf \
        --seed N --seconds S --trace 0|1 [--smoke]

Run from the root of a checkout. The first run builds the engine and the
harness from source with sbt (offline) into `.bench_build/`; later runs
reuse the build while the sources are unchanged. Each run starts one JVM
(`bench.Main`), which sets up, times its work, checks every output and
writes its result. The last line printed is one JSON object with
`correct`, `attempted`, `failed` and `metrics`; the line before it holds
the run's detail (workload-only metrics, host and JVM context). With
`--trace 1` the metrics are the per-layer ones of BENCHMARK.json and the
spans go to `.bench_build/spans/`.

Inputs: the fixture tables of TESTDATA.md under `~/testdata` (override
with BENCH_DATA_ROOT); sf0.1, or sf0.001 with `--smoke`.
"""
import argparse
import hashlib
import json
import os
import shutil
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
HARNESS = os.path.join(HERE, "harness")
WORKLOADS = ("sql_suite", "llm_pipeline", "wasm_udf")
# A run must end within 180 s, build excluded. The longest run, a traced
# llm_pipeline run, takes about 120 s on 4 cores.
RUN_TIMEOUT_S = 172

# Spark on JDK 17 outside spark-submit needs these; the engine's build.sbt
# passes the same list to its forked runs.
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io",
    "java.base/java.net", "java.base/java.nio",
    "java.base/java.util", "java.base/java.util.concurrent",
    "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def log(msg):
    print(f"[benchmark] {msg}", file=sys.stderr, flush=True)


def fail(msg, code=2):
    log(msg)
    sys.exit(code)


def build_dir():
    return os.path.join(ROOT, ".bench_build")


def source_stamp():
    """Hash of every file the build reads, so a changed source rebuilds."""
    h = hashlib.sha256()
    inputs = [os.path.join(ROOT, "build.sbt"), os.path.join(HARNESS, "build.sbt")]
    for top in (os.path.join(ROOT, "project"), os.path.join(HARNESS, "project")):
        if os.path.isdir(top):
            inputs += [os.path.join(top, f) for f in sorted(os.listdir(top))
                       if f.endswith((".sbt", ".properties", ".scala"))]
    for top in (os.path.join(ROOT, "src", "main"), os.path.join(HARNESS, "src")):
        for dirpath, dirnames, files in os.walk(top):
            dirnames.sort()
            inputs += [os.path.join(dirpath, f) for f in sorted(files)]
    for path in inputs:
        if os.path.isfile(path):
            h.update(os.path.relpath(path, ROOT).encode())
            with open(path, "rb") as f:
                h.update(hashlib.sha256(f.read()).digest())
    return h.hexdigest()


def build():
    """Compile the engine and the harness; return the runtime classpath."""
    for need in ("build.sbt", os.path.join("src", "main", "scala")):
        if not os.path.exists(os.path.join(ROOT, need)):
            fail(f"{need} not found at {ROOT}: run from the root of a full checkout")
    out = build_dir()
    os.makedirs(out, exist_ok=True)
    stamp_file = os.path.join(out, "stamp")
    cp_file = os.path.join(out, "classpath")
    stamp = source_stamp()
    if os.path.isfile(cp_file) and os.path.isfile(stamp_file):
        with open(stamp_file) as f:
            if f.read().strip() == stamp:
                with open(cp_file) as g:
                    return g.read().strip()
    if shutil.which("sbt") is None:
        fail("sbt not found on PATH")
    home = os.path.expanduser("~")
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    env.setdefault("SBT_OPTS", " ".join([
        "-Dsbt.override.build.repos=true",
        f"-Dsbt.repository.config={home}/.sbt/repositories",
        "-Dsbt.offline=true", "-Dsbt.server.autostart=false", "-Xmx3g",
        "-XX:-UsePerfData"]))
    sbt_tmp = os.path.join(out, "sbt-tmp")
    os.makedirs(sbt_tmp, exist_ok=True)
    env["SBT_OPTS"] += f" -Djava.io.tmpdir={sbt_tmp}"
    log("building the engine and the harness with sbt (first run only)")
    t0 = time.time()
    with open(os.path.join(out, "build.log"), "w") as logf:
        proc = subprocess.Popen(
            ["sbt", "--batch", "-Dsbt.log.noformat=true", "compile",
             "export Runtime/fullClasspath"],
            cwd=HARNESS, env=env, stdout=subprocess.PIPE, stderr=logf,
            stdin=subprocess.DEVNULL, text=True, start_new_session=True)
        try:
            stdout, _ = proc.communicate(timeout=850)
        except subprocess.TimeoutExpired:
            os.killpg(proc.pid, signal.SIGKILL)
            proc.wait()
            fail("sbt build timed out")
        logf.write(stdout)
    lines = [l for l in stdout.splitlines() if l.strip()]
    if proc.returncode != 0 or not lines or "classes" not in lines[-1]:
        fail(f"sbt build failed (exit {proc.returncode}); see {out}/build.log")
    cp = lines[-1].strip()
    with open(cp_file, "w") as f:
        f.write(cp)
    with open(stamp_file, "w") as f:
        f.write(stamp)
    log(f"built in {time.time() - t0:.1f} s")
    return cp


def load_spec():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


def harness(classpath, args, tmp):
    """Run bench.Main in its own JVM; all of its files stay under `tmp`."""
    # -XX:-UsePerfData: no hsperfdata file in the system temp directory
    cmd = ["java", "-Xmx4g", "-XX:-UsePerfData"]
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    cmd += [
        f"-Djava.io.tmpdir={tmp}",
        f"-Dspark.local.dir={tmp}/local",
        f"-Dspark.sql.warehouse.dir={tmp}/warehouse",
        f"-Dderby.system.home={tmp}",
        f"-Dspark.hadoop.hadoop.tmp.dir={tmp}/hadoop",
        "-Dspark.ui.enabled=false",
        "-Dspark.sql.session.timeZone=UTC",
        "-cp", classpath, "bench.Main"] + args
    proc = subprocess.Popen(cmd, cwd=tmp, stdout=sys.stderr, stderr=sys.stderr,
                            stdin=subprocess.DEVNULL, start_new_session=True)
    try:
        return proc.wait(timeout=RUN_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        os.killpg(proc.pid, signal.SIGKILL)
        proc.wait()
        fail(f"harness did not finish within {RUN_TIMEOUT_S} s", 3)
    finally:
        try:
            os.killpg(proc.pid, signal.SIGKILL)
        except ProcessLookupError:
            pass


def check_metrics(result, spec, trace):
    """Every metric of BENCHMARK.json for this mode, with its unit."""
    want = spec["per_layer" if trace else "end_to_end"]
    got = result["metrics"]
    problems = []
    for m in want:
        v = got.get(m["name"])
        if v is None:
            problems.append(f"missing metric {m['name']}")
        elif v.get("unit") != m["unit"]:
            problems.append(f"{m['name']}: unit {v.get('unit')} != {m['unit']}")
        elif not isinstance(v.get("value"), (int, float)):
            problems.append(f"{m['name']}: value {v.get('value')!r} is not a number")
    extra = set(got) - {m["name"] for m in want}
    if extra:
        problems.append(f"metrics not in BENCHMARK.json: {sorted(extra)}")
    return problems


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, default=10)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--smoke", action="store_true",
                    help="sf0.001 and tiny UDF inputs, one pass")
    ap.add_argument("--golden", default=os.path.join(HERE, "golden.json"),
                    help="golden digests (a wrong one must fail the run)")
    ap.add_argument("--break-expectation", action="store_true",
                    help="check the pow UDF against a wrong native expression")
    ap.add_argument("--mode", choices=("run", "record", "oracle"), default="run")
    a = ap.parse_args()

    spec = load_spec()
    data_root = os.environ.get("BENCH_DATA_ROOT", os.path.join(os.path.expanduser("~"), "testdata"))
    data = os.path.join(data_root, "sf0.001" if a.smoke else "sf0.1")
    if not os.path.isdir(data):
        fail(f"fixture tables not found at {data}")
    classpath = build()

    out = build_dir()
    tmp = os.path.join(out, f"run-{os.getpid()}")
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    result_file = os.path.join(tmp, "result.json")
    spans = os.path.join(out, "spans", f"{a.workload}-seed{a.seed}.json")
    args = ["--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
            "--trace", str(a.trace), "--data", data, "--golden", os.path.abspath(a.golden),
            "--out", result_file, "--spans", spans if a.trace else "",
            "--mode", a.mode, "--launched-ms", str(int(time.time() * 1000))]
    if a.smoke:
        args.append("--smoke")
    if a.break_expectation:
        args.append("--break-expectation")
    try:
        code = harness(classpath, args, tmp)
        if code != 0 or not os.path.isfile(result_file):
            fail(f"harness exited with {code} and no result", 1)
        with open(result_file) as f:
            result = json.load(f)
    finally:
        shutil.rmtree(tmp, ignore_errors=True)

    if a.mode != "run":
        print(json.dumps(result, sort_keys=True))
        return
    problems = check_metrics(result, spec, a.trace == 1)
    if problems:
        fail("; ".join(problems), 1)
    print(json.dumps({"detail": result["detail"]}))
    print(json.dumps({k: result[k] for k in ("correct", "attempted", "failed", "metrics")}))


if __name__ == "__main__":
    main()

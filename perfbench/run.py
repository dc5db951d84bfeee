"""graft's operation-level lake benchmark (see perfbench/README.md).

Usage, from the repository root:

    python3 perfbench/run.py --workload ingest_mutate --seed 1 --seconds 16 --trace 0
    python3 perfbench/run.py --selftest

Builds graft and the benchmark from source when needed (perfbench/build.py),
runs one workload in a fresh JVM on a local Spark session with one core per
CPU, and prints one line per metric:

    <workload> <metric> <value> <unit> n=<samples>

then, as the last line, one JSON object with `correct`, `attempted`,
`failed` and `metrics`. With `--trace 0` the metrics are the end-to-end
metrics BENCHMARK.json lists; with `--trace 1` the per-layer ones. All
files a run writes go under perfbench/out/.
"""
import argparse
import json
import os
import shutil
import signal
import subprocess
import sys
import time

import build

BENCH = build.BENCH
OUT = os.path.join(BENCH, "out")
RUN_LIMIT_S = 175  # the whole run, build excluded
HEAVY = ("plain", "setup-0", "setup-1", "setup-2", "setup",
         "spark-local", "spark-warehouse", "tmp")
ADD_OPENS = ["java.lang", "java.lang.invoke", "java.lang.reflect", "java.io",
             "java.net", "java.nio", "java.util", "java.util.concurrent",
             "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
             "sun.security.action", "sun.util.calendar"]


def fail(msg, code=1):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(code)


def cores():
    try:
        return len(os.sched_getaffinity(0))
    except AttributeError:
        return os.cpu_count() or 1


def run_jvm(classpath, out, main_args, deadline):
    """Runs the benchmark JVM; its own output goes to out/jvm.log."""
    os.makedirs(os.path.join(out, "tmp"), exist_ok=True)
    # a fixed heap and the throughput collector: no heap resizing and no
    # concurrent marking threads competing with the executors mid-run.
    # -XX:-UsePerfData keeps the JVM from writing its perf file outside
    # the checkout.
    cmd = (["java", "-Xms2g", "-Xmx2g", "-XX:+UseParallelGC", "-Xss8m",
            "-XX:-UsePerfData", f"-Djava.io.tmpdir={os.path.join(out, 'tmp')}"]
           + [f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in ADD_OPENS]
           + ["-cp", os.pathsep.join(classpath), "graft.perfbench.Main",
              "--out", out, "--cores", str(cores())] + main_args)
    with open(os.path.join(out, "jvm.log"), "w") as log:
        p = subprocess.Popen(cmd, stdout=log, stderr=subprocess.STDOUT,
                             start_new_session=True)
        try:
            return p.wait(timeout=max(1.0, deadline - time.monotonic()))
        except subprocess.TimeoutExpired:
            os.killpg(p.pid, signal.SIGKILL)
            p.wait()
            fail(f"run exceeded {RUN_LIMIT_S}s; see {out}/jvm.log", 3)
        except BaseException:
            os.killpg(p.pid, signal.SIGKILL)
            p.wait()
            raise


def log_tail(out):
    with open(os.path.join(out, "jvm.log"), errors="replace") as f:
        return "".join(f.readlines()[-30:])


def main():
    # a SIGTERM unwinds like an exception, so run_jvm still kills the JVM
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload")
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=10)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--selftest", action="store_true")
    a = ap.parse_args()
    if not a.selftest and not a.workload:
        ap.error("--workload is required")

    spec_path = os.path.join(build.ROOT, "BENCHMARK.json")
    if not os.path.isfile(spec_path):
        fail("BENCHMARK.json not found at the repository root", 2)
    with open(spec_path) as f:
        spec = json.load(f)
    names = [w["name"] for w in spec["workloads"]]
    if not a.selftest and a.workload not in names:
        fail(f"unknown workload {a.workload}; one of {names}", 2)

    try:
        classpath = build.build()
    except build.BuildError as e:
        fail(f"build failed: {e}", 2)
    deadline = time.monotonic() + RUN_LIMIT_S

    tag = "selftest" if a.selftest else f"{a.workload}-seed{a.seed}-trace{a.trace}"
    out = os.path.join(OUT, tag)
    shutil.rmtree(out, ignore_errors=True)
    os.makedirs(out)
    args = (["--selftest", "1"] if a.selftest else
            ["--workload", a.workload, "--seed", str(a.seed),
             "--seconds", str(a.seconds), "--trace", str(a.trace)])
    code = run_jvm(classpath, out, args, deadline)
    for d in HEAVY:
        shutil.rmtree(os.path.join(out, d), ignore_errors=True)
    if a.selftest:
        print(log_tail(out) if code else "selftest ok")
        sys.exit(code)
    if code != 0:
        fail(f"benchmark JVM exited with {code}:\n{log_tail(out)}")

    with open(os.path.join(out, "result.json")) as f:
        res = json.load(f)
    w = a.workload
    for m in res["named"]:
        print(f"{w} {m['name']} {m['value']:.6g} {m['unit']} n={m['n']}")
    for group in ("e2e", "layer"):
        for name, m in res[group].items():
            print(f"{w} {name} {m['value']:.6g} {m['unit']} n={m['n']}")
    for s in res["selftime"]:
        print(f"{w} selftime.{s['class']}.{s['layer']} {s['ms_per_op']:.6g} ms n={s['n']}")
    for msg in res["failures"]:
        print(f"{w} failure {msg}", file=sys.stderr)

    # tracing overhead: this traced run's end-to-end figures minus those of
    # the untraced run of the same workload and seed, if there was one
    last = os.path.join(OUT, f"{w}-seed{a.seed}-trace0", "result.json")
    if a.trace == 1 and os.path.isfile(last):
        with open(last) as f:
            base = json.load(f)["e2e"]
        for name, m in res["e2e"].items():
            if name in base:
                print(f"{w} overhead.{name} {m['value'] - base[name]['value']:.6g} "
                      f"{m['unit']} n={m['n']}")

    wanted = spec["per_layer" if a.trace else "end_to_end"]
    have = res["layer" if a.trace else "e2e"]
    missing = [m["name"] for m in wanted if m["name"] not in have]
    if missing:
        fail(f"metrics missing from the run: {missing}")
    print(json.dumps({
        "correct": res["failed"] == 0 and res["attempted"] > 0,
        "attempted": res["attempted"],
        "failed": res["failed"],
        "metrics": {m["name"]: {"value": have[m["name"]]["value"], "unit": m["unit"]}
                    for m in wanted},
    }))


if __name__ == "__main__":
    main()

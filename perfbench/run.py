"""Runs one benchmark workload and prints its result.

    python3 perfbench/run.py --workload <bulk_build|query_mix|ingest_serve>
                             --seed <n> --seconds <s> --trace <0|1>

Builds the engine and the benchmark when their sources changed (build.py),
then runs one JVM. The JVM prints one report line per metric and writes
every metric to .bench_build/results/<workload>-seed<n>-trace<t>.json
(traced runs also write the span list beside it). The last line printed
here is the result the metrics list in BENCHMARK.json asks for: the
end_to_end metrics without tracing, the per_layer metrics with it.
Exits non-zero, printing no result, when the build or the run fails or
a listed metric is missing.
"""

import argparse
import json
import math
import os
import pathlib
import shutil
import signal
import subprocess
import sys
import time

sys.dont_write_bytecode = True
sys.path.insert(0, str(pathlib.Path(__file__).resolve().parent))
import build  # noqa: E402

ROOT = build.ROOT
RUN_LIMIT_S = 170
JAVA_OPTS = ["-XX:-UsePerfData", "-Xmx3g", "-Xss8m",
             "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC"]
# Spark on JDK 17 outside spark-submit needs these (the set the Spark
# launcher adds, JavaModuleOptions.defaultModuleOptions).
ADD_OPENS = ["java.base/java.lang", "java.base/java.lang.invoke",
             "java.base/java.lang.reflect", "java.base/java.io",
             "java.base/java.net", "java.base/java.nio", "java.base/java.util",
             "java.base/java.util.concurrent",
             "java.base/java.util.concurrent.atomic", "java.base/sun.nio.ch",
             "java.base/sun.nio.cs", "java.base/sun.security.action",
             "java.base/sun.util.calendar"]


def listed_metrics(trace):
    spec = json.loads((ROOT / "BENCHMARK.json").read_text())
    return [m["name"] for m in spec["per_layer" if trace else "end_to_end"]]


def run_jvm(cmd, limit_s):
    """Runs the JVM in its own process group; kills the group on timeout
    or interrupt and waits for it."""
    proc = subprocess.Popen(cmd, start_new_session=True)

    def kill(*_):
        try:
            os.killpg(proc.pid, signal.SIGKILL)
        except ProcessLookupError:
            pass

    signal.signal(signal.SIGTERM, lambda *a: (kill(), sys.exit(1)))
    try:
        return proc.wait(timeout=limit_s)
    except subprocess.TimeoutExpired:
        print(f"[perfbench] run exceeded {limit_s}s; killed", file=sys.stderr)
        return None
    finally:
        kill()
        proc.wait()


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()

    try:
        names = listed_metrics(a.trace)
        classpath = build.ensure()
    except (OSError, ValueError, KeyError, build.BuildError) as e:
        sys.exit(f"[perfbench] cannot run: {e}")

    results = build.BUILD / "results"
    results.mkdir(parents=True, exist_ok=True)
    out = results / f"{a.workload}-seed{a.seed}-trace{a.trace}.json"
    out.unlink(missing_ok=True)
    work = build.BUILD / "work" / f"{a.workload}-{a.seed}-{a.trace}-{os.getpid()}"
    tmp = work / "tmp"
    tmp.mkdir(parents=True, exist_ok=True)
    cmd = (["java"] + JAVA_OPTS + [f"-Djava.io.tmpdir={tmp}"]
           + [x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
           + ["-cp", classpath, "graft.perfbench.Main",
              "--workload", a.workload, "--seed", str(a.seed),
              "--seconds", str(a.seconds), "--trace", str(a.trace),
              "--work", str(work), "--out", str(out)])
    t0 = time.monotonic()
    try:
        code = run_jvm(cmd, RUN_LIMIT_S)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    if code != 0 or not out.exists():
        sys.exit(f"[perfbench] {a.workload} failed (exit {code}, "
                 f"{time.monotonic() - t0:.0f}s)")

    res = json.loads(out.read_text())
    metrics = {}
    for n in names:
        m = res["metrics"].get(n)
        if m is None or not isinstance(m["value"], (int, float)) \
                or not math.isfinite(m["value"]):
            sys.exit(f"[perfbench] metric {n} missing from {out.name}")
        metrics[n] = {"value": m["value"], "unit": m["unit"]}
    print(json.dumps({"correct": res["failed"] == 0,
                      "attempted": res["attempted"],
                      "failed": res["failed"], "metrics": metrics}), flush=True)


if __name__ == "__main__":
    main()

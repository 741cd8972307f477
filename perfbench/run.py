"""Benchmark entry point.

Usage (from the repository root):
  python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Builds the program and the harness if a source changed (perfbench/build.py),
runs one workload in a fresh JVM and prints, as its last line, one JSON
object: the output-check verdict and every end-to-end metric (--trace 0) or
every per-layer metric (--trace 1) named in BENCHMARK.json, with its unit.
All build output, inputs and traces go under .bench_build/.
"""
import argparse
import json
import os
import signal
import subprocess
import sys

sys.dont_write_bytecode = True
sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import build  # noqa: E402

WORKLOADS = ("nightly_batch", "online_serving")
TIMEOUT_S = 170
OPENS = ["java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
         "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
         "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar"]


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()

    with open("BENCHMARK.json") as fh:
        spec = json.load(fh)
    wanted = spec["per_layer" if a.trace else "end_to_end"]
    classpath = build.build()

    tmp = os.path.join(build.BUILD, "tmp")
    os.makedirs(tmp, exist_ok=True)
    cores = min(4, os.cpu_count() or 1)
    cmd = (["java"] + [f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in OPENS] +
           ["-Xmx3g", "-XX:ReservedCodeCacheSize=512m", f"-Djava.io.tmpdir={tmp}",
            "-Dspark.ui.enabled=false", "-cp", classpath, "perfbench.Main",
            "--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
            "--trace", str(a.trace), "--build", build.BUILD, "--cores", str(cores)])
    p = subprocess.Popen(cmd, stdout=subprocess.PIPE, text=True, start_new_session=True)
    try:
        out, _ = p.communicate(timeout=TIMEOUT_S)
    except subprocess.TimeoutExpired:
        os.killpg(p.pid, signal.SIGKILL)
        p.wait()
        raise SystemExit(f"perfbench: {a.workload} did not finish in {TIMEOUT_S} s")
    result = None
    for line in out.splitlines():
        if line.startswith("perfbench-result "):
            result = json.loads(line[len("perfbench-result "):])
        else:
            print(line)
    if p.returncode != 0 or result is None:
        raise SystemExit(f"perfbench: harness exited with {p.returncode} and no result")
    got = result["metrics"]
    # a layer the workload does not call reads 0; any other metric it
    # leaves out is a measurement it forgot
    idle = tuple(result.pop("not_called", []))
    got.update({m["name"]: 0.0 for m in wanted
                if m["name"] not in got and m["name"].startswith(idle)})
    missing = [m["name"] for m in wanted if m["name"] not in got]
    if missing:
        raise SystemExit(f"perfbench: harness did not report {missing}")
    result["metrics"] = {m["name"]: {"value": got[m["name"]], "unit": m["unit"]}
                         for m in wanted}
    print(json.dumps(result))


if __name__ == "__main__":
    main()

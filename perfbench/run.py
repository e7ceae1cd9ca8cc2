"""Runs one workload of the benchmark and prints its metrics.

    python3 perfbench/run.py --workload <ingest_drain|sql_serve|neardup>
        --seed <n> --seconds <s> --trace <0|1> [--scale <sf>] [--wrong-model]

Builds the engine and the benchmark from source first when they changed
(see build.py). Standard output carries one line per measured metric,
then, as the last line, one JSON object with the keys `correct`,
`attempted`, `failed` and `metrics`: the end-to-end metrics of
BENCHMARK.json with `--trace 0`, its per-layer metrics with `--trace 1`.
A metric of a layer the workload does not call (see workloads.json)
reads 0. The exit code is 0 only when every output check passed.
"""
import argparse
import json
import os
import shutil
import signal
import subprocess
import sys
import threading
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
sys.path.insert(0, str(HERE))
import build  # noqa: E402

RUN_TIMEOUT_S = 170
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def fail(msg: str) -> None:
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def main() -> None:
    bench_file = ROOT / "BENCHMARK.json"
    if not bench_file.is_file():
        fail(f"{bench_file} is missing")
    bench = json.loads(bench_file.read_text())
    meta = json.loads((HERE / "workloads.json").read_text())
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=[w["name"] for w in bench["workloads"]])
    ap.add_argument("--seed", required=True, type=int)
    ap.add_argument("--seconds", required=True, type=float)
    ap.add_argument("--trace", required=True, choices=["0", "1"])
    ap.add_argument("--scale", type=float, default=0.1,
                    help="input size as a TPC-H-style scale factor (default 0.1)")
    ap.add_argument("--wrong-model", action="store_true",
                    help="check outputs against a deliberately wrong model (self-test)")
    args = ap.parse_args()

    classes = build.build()
    jars = build.spark_jars()
    out = build.OUT
    work = out / "work" / f"{args.workload}-{os.getpid()}"
    spans = out / "traces" / f"{args.workload}-seed{args.seed}.spans.jsonl"
    (work / "tmp").mkdir(parents=True, exist_ok=True)
    # the parallel collector: G1's concurrent threads widened the spread of
    # run-to-run times on a 4-core host. A fixed-size heap on transparent
    # huge pages (where the kernel offers them on madvise) made sql_serve's
    # passes about a fifth faster and, in a six-seed trial, spread less
    # between runs.
    cmd = (["java"] + [a for p in ADD_OPENS for a in ("--add-opens", f"{p}=ALL-UNNAMED")] +
           ["-Xms2g", "-Xmx2g", "-XX:+UseParallelGC", "-XX:+UseTransparentHugePages",
            f"-Djava.io.tmpdir={work / 'tmp'}",
            f"-Dlog4j2.configurationFile={HERE / 'log4j2.properties'}",
            "-cp", f"{classes}{os.pathsep}{jars / '*'}", "perfbench.Main",
            "--workload", args.workload, "--seed", str(args.seed),
            "--seconds", str(args.seconds), "--trace", args.trace,
            "--scale", str(args.scale), "--work", str(work), "--spans", str(spans)])
    if args.wrong_model:
        cmd += ["--wrong-model", "1"]
    # the engine reads SPARK_GRAFT_* settings in some entry points; the
    # benchmark measures it without them
    env = {k: v for k, v in os.environ.items() if not k.startswith("SPARK_GRAFT_")}
    result = None
    proc = subprocess.Popen(cmd, cwd=ROOT, env=env, stdout=subprocess.PIPE, text=True,
                            start_new_session=True)
    timed_out = threading.Event()

    def stop() -> None:
        timed_out.set()
        os.killpg(proc.pid, signal.SIGKILL)

    watchdog = threading.Timer(RUN_TIMEOUT_S, stop)
    watchdog.start()
    try:
        for line in proc.stdout:
            if line.startswith("PERFBENCH_RESULT "):
                result = json.loads(line[len("PERFBENCH_RESULT "):])
            else:
                sys.stdout.write(line)
        proc.wait()
    finally:
        watchdog.cancel()
        if proc.poll() is None:
            os.killpg(proc.pid, signal.SIGKILL)
            proc.wait()
        shutil.rmtree(work, ignore_errors=True)
    if timed_out.is_set():
        fail(f"the run exceeded {RUN_TIMEOUT_S} s and was stopped")
    if result is None:
        fail(f"the run printed no result (exit code {proc.returncode})")
    if proc.returncode not in (0, 1):
        fail(f"the run ended with exit code {proc.returncode}")

    wanted = bench["end_to_end"] if args.trace == "0" else bench["per_layer"]
    loads = meta["per_layer"]
    metrics = {}
    for m in wanted:
        got = result["metrics"].get(m["name"])
        if got is not None:
            metrics[m["name"]] = {"value": got["value"], "unit": m["unit"]}
        elif args.trace == "1" and args.workload not in loads[m["name"]]["workloads"]:
            metrics[m["name"]] = {"value": 0, "unit": m["unit"]}
        else:
            fail(f"{args.workload} did not report {m['name']}")
    print(json.dumps({"correct": result["correct"], "attempted": result["attempted"],
                      "failed": result["failed"], "metrics": metrics}))
    sys.exit(0 if result["correct"] and proc.returncode == 0 else 1)


if __name__ == "__main__":
    main()

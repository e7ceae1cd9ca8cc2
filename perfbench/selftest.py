"""Self-test of the benchmark.

    python3 perfbench/selftest.py

Runs every workload of BENCHMARK.json at sf0.001, untraced and traced,
and asserts that each end-to-end and per-layer metric prints as a number
with its declared unit, and that the workload itself reports every
per-layer metric that workloads.json says it loads. Runs neardup twice
with one seed and asserts its verified pair and keeper counts repeat.
Then runs every workload against a deliberately wrong expected model and
asserts that the run fails its output check, which shows the checks are
not vacuous. Exits non-zero on the first failed assertion.
"""
import json
import subprocess
import sys
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
SCALE = "0.001"


def run(workload: str, trace: str, seed: int = 7, wrong: bool = False):
    cmd = [sys.executable, str(HERE / "run.py"), "--workload", workload, "--seed", str(seed),
           "--seconds", "1", "--trace", trace, "--scale", SCALE]
    if wrong:
        cmd.append("--wrong-model")
    p = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True, timeout=400)
    lines = p.stdout.strip().splitlines()
    result = json.loads(lines[-1]) if lines and lines[-1].startswith("{") else None
    printed = {ln.split()[1] for ln in lines if ln.startswith("metric ")}
    return p, result, printed


def expect(cond: bool, what: str, p=None) -> None:
    if not cond:
        if p is not None:
            sys.stderr.write(p.stderr[-4000:])
        raise SystemExit(f"selftest FAILED: {what}")
    print(f"ok  {what}", flush=True)


def main() -> None:
    bench = json.loads((ROOT / "BENCHMARK.json").read_text())
    meta = json.loads((HERE / "workloads.json").read_text())
    names = [w["name"] for w in bench["workloads"]]
    for w in names:
        for trace, declared in (("0", bench["end_to_end"]), ("1", bench["per_layer"])):
            p, result, printed = run(w, trace)
            expect(p.returncode == 0 and result is not None and result["correct"],
                   f"{w} --trace {trace} runs and passes its output checks", p)
            expect(result["attempted"] >= 1 and result["failed"] == 0,
                   f"{w} --trace {trace} attempted {result['attempted']}, failed {result['failed']}")
            missing = [m["name"] for m in declared
                       if not isinstance(result["metrics"].get(m["name"], {}).get("value"), (int, float))
                       or result["metrics"][m["name"]]["unit"] != m["unit"]]
            expect(not missing, f"{w} --trace {trace} prints all {len(declared)} metrics {missing}")
            unmeasured = [m["name"] for m in declared if m["name"] not in printed and
                          (trace == "0" or w in meta["per_layer"][m["name"]]["workloads"])]
            expect(not unmeasured, f"{w} --trace {trace} measures every metric of the layers it loads "
                                   f"{unmeasured}", p)
    first = run("neardup", "1", seed=11)[1]["metrics"]
    second = run("neardup", "1", seed=11)[1]["metrics"]
    for k in ("queries.verified_pairs", "queries.keepers"):
        expect(first[k]["value"] == second[k]["value"] and first[k]["value"] > 0,
               f"neardup {k} repeats for one seed ({first[k]['value']})")
    for w in names:
        p, result, _ = run(w, "0", wrong=True)
        expect(p.returncode != 0 and result is not None and not result["correct"]
               and result["failed"] >= 1,
               f"{w} fails its output check against a wrong model", p)


if __name__ == "__main__":
    main()

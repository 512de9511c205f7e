"""Tiny-scale self-check of the benchmark harness.

    python3 perfbench/selfcheck.py

Run from the repository root. At sf0.001 it checks that

* every workload, untraced and traced, prints as its last line a result
  carrying every metric named in ``BENCHMARK.json`` with its unit, and
  that its outputs matched the DuckDB expectations;
* a deliberately wrong expectation is counted as a failed operation;
* a directory holding only ``BENCHMARK.json`` and the benchmark's files
  (no program) makes the benchmark exit non-zero without a result.

Exits 0 when every check passes.
"""

import json
import os
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
SF = "0.001"


def run(args: list[str], cwd: str = ROOT) -> tuple[int, dict | None, str]:
    proc = subprocess.run(
        [sys.executable, "perfbench/run.py", *args],
        cwd=cwd, capture_output=True, text=True, timeout=300,
    )
    lines = proc.stdout.strip().splitlines()
    try:
        result = json.loads(lines[-1]) if lines else None
    except json.JSONDecodeError:
        result = None
    return proc.returncode, result, proc.stdout + proc.stderr


def main() -> int:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        bench = json.load(fh)
    problems = []

    def check(ok: bool, msg: str) -> None:
        print(("ok   " if ok else "FAIL ") + msg)
        if not ok:
            problems.append(msg)

    for wl in (w["name"] for w in bench["workloads"]):
        for trace, key in ((0, "end_to_end"), (1, "per_layer")):
            rc, res, out = run(["--workload", wl, "--seed", "1", "--seconds", "1",
                                "--trace", str(trace), "--sf", SF])
            tag = f"{wl} --trace {trace}"
            check(rc == 0 and res is not None, f"{tag}: exit 0 with a result")
            if res is None:
                print(out[-3000:])
                continue
            check(set(res) == {"correct", "attempted", "failed", "metrics"},
                  f"{tag}: result keys")
            check(res["correct"] and res["failed"] == 0 and res["attempted"] > 0,
                  f"{tag}: outputs match expectations")
            for m in bench[key]:
                got = res["metrics"].get(m["name"])
                check(got is not None and got["unit"] == m["unit"]
                      and isinstance(got["value"], (int, float)),
                      f"{tag}: {m['name']} emitted in {m['unit']}")
                if key == "end_to_end" and got is not None:
                    check(got["value"] > 0, f"{tag}: {m['name']} is not 0")

    wl = bench["workloads"][0]["name"]
    rc, res, out = run(["--workload", wl, "--seed", "1", "--seconds", "1",
                        "--trace", "0", "--sf", SF, "--corrupt-expectation"])
    check(rc == 0 and res is not None and res["failed"] >= 1
          and not res["correct"], "a wrong expectation counts as a failure")

    bare = os.path.join(ROOT, ".perfbench_work", "bare")
    shutil.rmtree(bare, ignore_errors=True)
    os.makedirs(bare)
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), bare)
    shutil.copytree(HERE, os.path.join(bare, "perfbench"),
                    ignore=shutil.ignore_patterns("__pycache__"))
    rc, res, out = run(["--workload", wl, "--seed", "1", "--seconds", "1",
                        "--trace", "0"], cwd=bare)
    check(rc != 0 and res is None, "without the program: non-zero exit, no result")
    shutil.rmtree(bare, ignore_errors=True)

    print(f"{len(problems)} problem(s)")
    return 1 if problems else 0


if __name__ == "__main__":
    sys.exit(main())

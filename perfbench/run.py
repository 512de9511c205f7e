"""Drift-diff benchmark: one command, seeded inputs, checked outputs.

    python3 perfbench/run.py --workload compare_sf0001 --seed 1 --seconds 5 --trace 0

Run from the repository root. The script generates the workload's two
parquet databases from ``--seed`` (DuckDB, cached under
``.perfbench_work/``), pins the machine-derived engine settings, and
starts ``perfbench/worker.py`` as a fresh process that builds the Spark
session through ``lotad_spark.session.get_spark`` and runs the passes.
``--trace 0`` reports the end-to-end metrics; ``--trace 1`` reports the
per-layer metrics of an extra, traced pass and writes the spans to
``.perfbench_work/trace-<workload>-seed<seed>.json``. The last line of
standard output is one JSON object:
``{"correct", "attempted", "failed", "metrics"}``.

Workloads, their input sizes and the layer-to-end-to-end metric map are
described in ``perfbench/README.md``.
"""

from __future__ import annotations

import argparse
import importlib.util
import json
import os
import shutil
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(ROOT, ".perfbench_work")
TIME_LIMIT_S = 170.0  # the whole run, fixture build included

# workload -> (fixture plan, scale factor)
WORKLOADS = {
    "compare_sf0001": ("compare", 0.001),
    "bulk_routes": ("bulk", 0.01),
}

# Fixed engine settings, identical for every commit measured.
DRIVER_MEM = "2g"

END_TO_END = {
    "setup_s": "s", "cold_s": "s", "warm_s": "s", "peak_rss_mb": "MB",
}
PER_LAYER = {
    "session.get_spark_s": "s",
    "sources.list_tables_s": "s", "sources.get_schema_s": "s",
    "sources.table_s": "s", "sources.jobs": "count",
    "diff.plan_s": "s", "diff.probe_jobs": "count", "diff.probes": "count",
    "diff.probe_yield": "share", "diff.probe.density_s": "s",
    "diff.probe.json_s": "s",
    "diff.route.window": "count", "diff.route.groupby": "count",
    "diff.hash.fast": "count", "diff.hash.arrow": "count",
    "hashing.fast_rows_per_s": "rows/s", "hashing.arrow_rows_per_s": "rows/s",
    "compare.table_s": "s", "compare.table_max_s": "s",
    "compare.sink_write_s": "s", "compare.pool_wait_s": "s",
    "compare.self_s": "s",
    "analysis.write_s": "s", "analysis.report_s": "s",
    "wizard.suggest_s": "s", "wizard.jobs": "count",
    "spark.jobs": "count", "spark.stages": "count", "spark.tasks": "count",
    "spark.executor_run_s": "s", "spark.executor_cpu_s": "s",
    "spark.gc_s": "s", "spark.input_mb": "MB", "spark.shuffle_write_mb": "MB",
    "spark.output_mb": "MB", "spark.spill_mb": "MB",
    "spark.input_rows": "count", "spark.output_rows": "count",
    "trace.pass_s": "s", "trace.overhead_s": "s",
    "trace.driver_share": "share", "trace.sink_share": "share",
    "q.jobs_per_get_schema": "count", "q.jobs_per_table_read": "count",
    "q.lineitem_density_probe_s": "s",
    "q.lineitem_density_probe_changed_route": "count",
    "q.arrow_stage_small_table_s": "s",
}


def fail(msg: str) -> int:
    print(f"perfbench: {msg}", file=sys.stderr)
    return 2


def settings() -> dict:
    cpus = len(os.sched_getaffinity(0))
    return {
        "SPARK_GRAFT_CPUS": str(cpus),
        "SPARK_GRAFT_DRIVER_MEM": DRIVER_MEM,
        "SPARK_LOCAL_DIRS": os.path.join(WORK, "spark-local"),
        "TMPDIR": os.path.join(WORK, "tmp"),
        "JAVA_TOOL_OPTIONS": f"-Djava.io.tmpdir={os.path.join(WORK, 'tmp')} "
                             "-XX:-UsePerfData",
        "LOTAD_SPARK_UI": "false",
        "PYTHONPATH": ROOT,
        "PYSPARK_PYTHON": sys.executable,
    }


def reset_dir(path: str) -> None:
    shutil.rmtree(path, ignore_errors=True)
    os.makedirs(path)


def group_alive(pgid: int) -> bool:
    try:
        os.killpg(pgid, 0)
    except ProcessLookupError:
        return False
    return True


def stop_group(pgid: int, grace_s: float) -> None:
    """Wait for every process of the worker's group (the JVM and Python
    daemons included) to end; kill what is left after ``grace_s``."""
    deadline = time.monotonic() + grace_s
    while group_alive(pgid) and time.monotonic() < deadline:
        time.sleep(0.1)
    if group_alive(pgid):
        os.killpg(pgid, signal.SIGKILL)
        while group_alive(pgid):
            time.sleep(0.1)


def run_worker(args, manifest_path: str, env: dict, deadline: float) -> dict | None:
    out = os.path.join(WORK, "result.json")
    log = os.path.join(WORK, "worker.log")
    if os.path.exists(out):
        os.remove(out)
    cmd = [
        sys.executable, os.path.join(HERE, "worker.py"),
        "--manifest", manifest_path, "--seconds", str(args.seconds),
        "--trace", str(args.trace), "--out", out, "--work", WORK,
        "--trace-file",
        os.path.join(WORK, f"trace-{args.workload}-seed{args.seed}.json"),
    ]
    if args.corrupt_expectation:
        cmd.append("--corrupt-expectation")
    with open(log, "w") as logf:
        t0 = time.time()
        proc = subprocess.Popen(cmd, cwd=ROOT, env=env, stdin=subprocess.DEVNULL,
                                stdout=logf, stderr=subprocess.STDOUT,
                                start_new_session=True)
        try:
            rc = proc.wait(timeout=max(1.0, deadline - time.monotonic()))
        except subprocess.TimeoutExpired:
            os.killpg(proc.pid, signal.SIGKILL)
            proc.wait()
            rc = None
        stop_group(proc.pid, grace_s=10.0)
    if rc != 0 or not os.path.exists(out):
        with open(log) as fh:
            tail = fh.read()[-4000:]
        print(tail, file=sys.stderr)
        print(f"perfbench: worker {'timed out' if rc is None else f'exited {rc}'}",
              file=sys.stderr)
        return None
    with open(out) as fh:
        res = json.load(fh)
    res["setup_s"] = res["t_ready"] - t0
    return res


def main() -> int:
    started = time.monotonic()
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--sf", type=float, default=None,
                    help="override the workload's scale factor (self-check)")
    ap.add_argument("--corrupt-expectation", action="store_true",
                    help="perturb one expected count (self-check)")
    args = ap.parse_args()

    if not os.path.isfile(os.path.join(ROOT, "lotad_spark", "__init__.py")):
        return fail(f"no lotad_spark package under {ROOT}; run from a checkout")
    missing = [m for m in ("duckdb", "pyspark") if importlib.util.find_spec(m) is None]
    if missing:
        return fail(f"missing dependencies: {missing}")
    sys.path.insert(0, ROOT)
    from perfbench import fixtures

    plan, sf = WORKLOADS[args.workload]
    sf = args.sf or sf
    env_pins = settings()
    reset_dir(env_pins["SPARK_LOCAL_DIRS"])
    reset_dir(env_pins["TMPDIR"])
    manifest = fixtures.build(plan, args.seed, sf, os.path.join(WORK, "fixtures"))
    manifest_path = os.path.join(os.path.dirname(manifest["db1"]), "manifest.json")
    env = dict(os.environ)
    env.update(env_pins)
    print("settings " + json.dumps({k: env_pins[k] for k in (
        "SPARK_GRAFT_CPUS", "SPARK_GRAFT_DRIVER_MEM", "SPARK_LOCAL_DIRS",
        "JAVA_TOOL_OPTIONS")}))
    for t, info in sorted(manifest["tables"].items()):
        print(f"input {t}: rows/side {info['rows']} drift/side {info['drift']} "
              f"file bytes/side {info['bytes']} suggest {info['suggest']}")

    res = run_worker(args, manifest_path, env,
                     deadline=started + TIME_LIMIT_S)
    for path in (env_pins["SPARK_LOCAL_DIRS"], env_pins["TMPDIR"],
                 os.path.join(WORK, "out")):
        shutil.rmtree(path, ignore_errors=True)
    if res is None:
        return 1

    if args.trace:
        layers = res["layers"]
        missing = sorted(set(PER_LAYER) - set(layers))
        if missing:
            return fail(f"traced run did not emit {missing}")
        metrics = {k: {"value": layers[k][0], "unit": u} for k, u in PER_LAYER.items()}
        print(f"routes {json.dumps(res['routes'])}")
        for msg in res["route_mismatch"]:
            print(f"route differs from intent: {msg}")
    else:
        metrics = {k: {"value": res[k], "unit": u} for k, u in END_TO_END.items()}
    print(f"passes: cold {res['cold_s']:.3f} s, "
          f"warm {['%.3f' % w for w in res['warm_passes']]} s, "
          f"wizard {res['suggest_s']:.3f} s")
    for err in res["errors"]:
        print(f"FAILED {err}")
    for k, v in metrics.items():
        print(f"{k} {v['value']:.6g} {v['unit']}")
    print(json.dumps({
        "correct": res["failed"] == 0 and res["attempted"] > 0,
        "attempted": res["attempted"],
        "failed": res["failed"],
        "metrics": metrics,
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())

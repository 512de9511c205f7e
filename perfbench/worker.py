"""One measured Spark session over one generated fixture.

Started by ``run.py`` as a fresh process, so the session set-up it reports
is what a ``lotad run`` invocation pays. A pass is what a user waits for:
``compare_all`` over both databases plus the rendered report. The first
pass is the cold one; the wizard's ``suggest_ignore_columns`` then runs on
the tables the workload reloaded; warm passes repeat until ``--seconds``
have passed (at least ``MIN_WARM_PASSES`` of them).
With ``--trace 1`` one more pass runs with every layer wrapped (see
``trace.py``), followed by the hashing-rate and Arrow-stage measurements.

Every pass is checked against the fixture's DuckDB-derived expectations;
a mismatch or an exception is a failed operation. The result is written
as JSON to ``--out``.
"""


import time

T_START = time.time()

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import statistics  # noqa: E402
import sys  # noqa: E402
import traceback  # noqa: E402

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from perfbench import trace as tr  # noqa: E402

MIN_WARM_PASSES = 1


class Checker:
    """Counts operations and failures against the fixture manifest."""

    def __init__(self, manifest: dict, corrupt: bool):
        self.tables = manifest["tables"]
        self.expect = {t: list(v["drift"]) for t, v in self.tables.items()}
        if corrupt:  # self-check: a wrong expectation must fail
            first = sorted(self.expect)[0]
            self.expect[first][0] += 1
        self.attempted = 0
        self.failed = 0
        self.errors: list[str] = []

    def fail(self, msg: str) -> None:
        self.failed += 1
        if len(self.errors) < 20:
            self.errors.append(msg)

    def compare(self, res) -> None:
        got = {d.table_name: [d.rows_only_in_db1, d.rows_only_in_db2]
               for d in res.data_drift}
        compared = set(res.compared_tables)
        for t, want in sorted(self.expect.items()):
            self.attempted += 1
            have = got.get(t, [0, 0])
            if t not in compared or have != want:
                self.fail(f"drift {t}: got {have}, expected {want}")

    def compare_raised(self, err: BaseException) -> None:
        for t in sorted(self.expect):
            self.attempted += 1
            self.fail(f"drift {t}: compare_all raised {err!r}")

    def suggest_raised(self, table: str, err: BaseException) -> None:
        self.attempted += 1
        self.fail(f"suggest {table}: raised {err!r}")

    def suggest(self, table: str, got) -> None:
        self.attempted += 1
        want = self.tables[table]["suggest"]
        if got != want:
            self.fail(f"suggest {table}: got {got}, expected {want}")


def first_job(spark) -> None:
    """The session's first job, through the Arrow Python worker daemon
    that the diff's canonical hash uses."""
    import pandas as pd
    from pyspark.sql import functions as F

    @F.pandas_udf("long")
    def inc(s: pd.Series) -> pd.Series:
        return s + 1

    rows = spark.range(4, numPartitions=1).select(inc("id").alias("x")).collect()
    if sorted(r.x for r in rows) != [1, 2, 3, 4]:
        raise RuntimeError("first job returned wrong rows")


def jvm_hwm_mb(pid: int) -> float:
    with open(f"/proc/{pid}/status") as fh:
        for line in fh:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    raise RuntimeError("VmHWM not found")


class Workload:
    def __init__(self, spark, manifest: dict, out_dir: str, checker: Checker):
        from lotad_spark.sources import ParquetDatabase

        self.spark = spark
        self.manifest = manifest
        self.out_dir = out_dir
        self.checker = checker
        self.db1 = ParquetDatabase(spark, manifest["db1"], "db1")
        self.db2 = ParquetDatabase(spark, manifest["db2"], "db2")

    def compare(self, tracer: tr.Tracer | None = None) -> float:
        """compare_all + report; returns its wall seconds."""
        from lotad_spark.compare import compare_all

        t0 = time.perf_counter()
        try:
            res = compare_all(self.spark, self.db1, self.db2,
                              output_path=self.out_dir)
            report = _call(tracer, "analysis.report", res.report)
            with open(os.path.join(self.out_dir, "report.txt"), "w") as fh:
                fh.write(report)
        except Exception as err:  # a failed operation, not a crash
            traceback.print_exc()
            self.checker.compare_raised(err)
            return time.perf_counter() - t0
        elapsed = time.perf_counter() - t0
        self.checker.compare(res)
        return elapsed

    def suggest(self, tracer: tr.Tracer | None = None) -> float:
        """Wizard suggestions on each reloaded table; returns seconds."""
        from lotad_spark.wizard import suggest_ignore_columns

        total = 0.0
        for t in self.manifest["suggest_tables"]:
            t0 = time.perf_counter()
            try:
                got = _call(tracer, "wizard.suggest", suggest_ignore_columns,
                            self.db1.table(t), self.db2.table(t))
            except Exception as err:  # a failed operation, not a crash
                traceback.print_exc()
                self.checker.suggest_raised(t, err)
                continue
            finally:
                total += time.perf_counter() - t0
            self.checker.suggest(t, got)
        return total


def _call(tracer: tr.Tracer | None, name: str, fn, *args):
    """``fn(*args)``, inside a span named ``name`` when tracing."""
    return fn(*args) if tracer is None else tracer.span(name, fn, *args)


def noop_seconds(df) -> float:
    t0 = time.perf_counter()
    df.write.format("noop").mode("overwrite").save()
    return time.perf_counter() - t0


def traced_pass(spark, wl: Workload, prefix: str) -> dict:
    tracer = tr.Tracer(spark, prefix)
    tracer.install()
    try:
        root, prev = tracer.open("pass")
        tracer.set_root(root)
        try:
            sid, prev_c = tracer.open("compare.compare_all")
            try:
                compare_s = wl.compare(tracer)
            finally:
                tracer.close(sid, prev_c)
            wl.suggest(tracer)
        finally:
            tracer.set_root(None)
            tracer.close(root, prev)
    finally:
        tracer.uninstall()
    jobs = tr.read_jobs(spark.sparkContext, prefix + ":")
    return {"tracer": tracer, "jobs": jobs, "compare_s": compare_s}


def layer_metrics(wl: Workload, tp: dict, warm_s: float) -> tuple[dict, dict]:
    """Per-layer metrics of one traced pass, and the trace record."""
    tracer: tr.Tracer = tp["tracer"]
    spans = {s.sid: s for s in tracer.spans if s.sid >= 0}
    jobs_by_group: dict[str, list[dict]] = {}
    for j in tp["jobs"]:
        jobs_by_group.setdefault(j["group"], []).append(j)

    def ancestors(span):
        while span.parent is not None and span.parent in spans:
            span = spans[span.parent]
            yield span

    def top(name_prefix: str):
        """Spans of a layer that are not nested in a span of the same layer."""
        return [s for s in tracer.spans if s.name.startswith(name_prefix)
                and not any(a.name.startswith(name_prefix) for a in ancestors(s))]

    def dur(ss) -> float:
        return sum(s.end - s.start for s in ss)

    def jobs_under(ss) -> list[dict]:
        ids = {s.sid for s in ss}
        out = []
        for s in tracer.spans:
            if s.sid >= 0 and (s.sid in ids or any(a.sid in ids for a in ancestors(s))):
                out.extend(jobs_by_group.get(tracer.group(s.sid), []))
        return out

    by_name: dict[str, list] = {}
    for s in tracer.spans:
        by_name.setdefault(s.name, []).append(s)
    get_schema = top("sources.get_schema")
    tables = [s for s in by_name.get("sources.table", [])
              if not any(a.name == "sources.get_schema" for a in ancestors(s))]
    m: dict[str, tuple[float, str]] = {}
    m["sources.list_tables_s"] = (dur(by_name.get("sources.list_tables", [])), "s")
    m["sources.get_schema_s"] = (dur(get_schema), "s")
    m["sources.table_s"] = (dur(tables), "s")
    m["sources.jobs"] = (len(jobs_under(top("sources."))), "count")

    plan = by_name.get("diff.plan", [])
    m["diff.plan_s"] = (dur(plan), "s")
    m["diff.probe_jobs"] = (len(jobs_under(plan)), "count")
    ran = [p for p in tracer.probes
           if jobs_by_group.get(tracer.group(p["sid"]))]
    m["diff.probes"] = (len(ran), "count")
    m["diff.probe_yield"] = (
        sum(p["changed"] for p in ran) / len(ran) if ran else 0.0, "share")
    m["diff.probe.density_s"] = (sum(p["s"] for p in ran if p["kind"] == "density"), "s")
    m["diff.probe.json_s"] = (sum(p["s"] for p in ran if p["kind"] == "json"), "s")
    for route in ("window", "groupby"):
        m[f"diff.route.{route}"] = (
            sum(d["strategy"] == route for d in tracer.diffs), "count")
    for path in ("fast", "arrow"):
        m[f"diff.hash.{path}"] = (sum(d["hash"] == path for d in tracer.diffs), "count")

    cmp_all = by_name["compare.compare_all"][0]
    m["compare.table_s"] = (dur(by_name.get("compare.table", [])), "s")
    m["compare.table_max_s"] = (
        max((s.end - s.start for s in by_name.get("compare.table", [])), default=0.0), "s")
    m["compare.sink_write_s"] = (dur(by_name.get("compare.sink_write", [])), "s")
    m["compare.pool_wait_s"] = (dur(by_name.get("compare.pool_wait", [])), "s")
    cmp_s = cmp_all.end - cmp_all.start
    inner = [(s.start, s.end) for s in tracer.spans
             if s is not cmp_all and s.name not in ("compare.pool_wait", "pass")]
    m["compare.self_s"] = (cmp_s - tr.covered(inner, cmp_all.start, cmp_all.end), "s")

    def share(prefixes) -> float:
        iv = [(s.start, s.end) for s in tracer.spans if s.name.startswith(prefixes)]
        return tr.covered(iv, cmp_all.start, cmp_all.end) / cmp_s

    # wall-time share of the compare_all pass with a driver-side span open
    # (catalog reads, plan build and probes, summary writes) / a sink open
    m["trace.driver_share"] = (share(("sources.", "diff.plan", "analysis.")), "share")
    m["trace.sink_share"] = (share(("compare.sink_write",)), "share")
    m["analysis.write_s"] = (dur(by_name.get("analysis.write", [])), "s")
    m["analysis.report_s"] = (dur(by_name.get("analysis.report", [])), "s")
    wiz = by_name.get("wizard.suggest", [])
    m["wizard.suggest_s"] = (dur(wiz), "s")
    m["wizard.jobs"] = (len(jobs_under(wiz)), "count")

    jobs = tp["jobs"]
    mb = 1024.0 * 1024.0
    m["spark.jobs"] = (len(jobs), "count")
    m["spark.stages"] = (sum(j["stages"] for j in jobs), "count")
    m["spark.tasks"] = (sum(j["tasks"] for j in jobs), "count")
    m["spark.executor_run_s"] = (sum(j["run_ms"] for j in jobs) / 1e3, "s")
    m["spark.executor_cpu_s"] = (sum(j["cpu_ns"] for j in jobs) / 1e9, "s")
    m["spark.gc_s"] = (sum(j["gc_ms"] for j in jobs) / 1e3, "s")
    m["spark.input_mb"] = (sum(j["input_b"] for j in jobs) / mb, "MB")
    m["spark.shuffle_write_mb"] = (sum(j["shuffle_write_b"] for j in jobs) / mb, "MB")
    m["spark.output_mb"] = (sum(j["output_b"] for j in jobs) / mb, "MB")
    m["spark.spill_mb"] = (sum(j["spill_b"] for j in jobs) / mb, "MB")
    m["spark.input_rows"] = (sum(j["input_rows"] for j in jobs), "count")
    m["spark.output_rows"] = (sum(j["output_rows"] for j in jobs), "count")
    m["trace.pass_s"] = (tp["compare_s"], "s")
    m["trace.overhead_s"] = (tp["compare_s"] - warm_s, "s")

    # ROADMAP item 1's fixed-cost questions
    m["q.jobs_per_get_schema"] = (
        len(jobs_under(get_schema)) / len(get_schema) if get_schema else 0.0, "count")
    m["q.jobs_per_table_read"] = (
        len(jobs_under(tables)) / len(tables) if tables else 0.0, "count")

    def probe_table(p):
        parent = spans[p["sid"]].parent
        return spans[parent].attrs.get("table") if parent in spans else None

    li = [p for p in ran if p["kind"] == "density" and probe_table(p) == "lineitem"]
    m["q.lineitem_density_probe_s"] = (sum(p["s"] for p in li), "s")
    m["q.lineitem_density_probe_changed_route"] = (
        float(any(p["changed"] for p in li)), "count")

    # (plan features, measured runtime) pairs, one per table
    table_span = {s.attrs["table"]: s for s in by_name.get("compare.table", [])}
    plan_span = {s.attrs["table"]: s for s in plan}
    pairs = []
    for d in tracer.diffs:
        t = d["table"]
        info = wl.manifest["tables"].get(t, {})
        run_ms = sum(j["run_ms"] for j in jobs_under([plan_span[t]])) if t in plan_span else 0
        sink = [s for s in by_name.get("compare.sink_write", []) if s.attrs.get("table") == t]
        pairs.append({
            "table": t,
            "features": {
                "rows": info.get("rows"),
                "est_bytes": [_est_bytes(d["df1"]), _est_bytes(d["df2"])],
                "file_bytes": info.get("bytes"),
                "columns": d["columns"],
                "strategy": d["strategy"], "hash": d["hash"],
            },
            "runtime": {
                "table_s": (table_span[t].end - table_span[t].start) if t in table_span else None,
                "plan_s": (plan_span[t].end - plan_span[t].start) if t in plan_span else None,
                "plan_executor_run_s": run_ms / 1e3,
                "sink_s": sum(s.end - s.start for s in sink),
                "sink_executor_run_s": sum(j["run_ms"] for j in jobs_under(sink)) / 1e3,
            },
        })
    record = {
        "spans": [
            {"id": s.sid, "name": s.name, "start": s.start, "end": s.end,
             "parent": s.parent, "thread": s.thread,
             "attrs": {k: v for k, v in s.attrs.items() if _jsonable(v)}}
            for s in tracer.spans
        ],
        "jobs": jobs,
        "probes": [{k: v for k, v in p.items()} for p in tracer.probes],
        "routes": [{"table": d["table"], "strategy": d["strategy"], "hash": d["hash"]}
                   for d in tracer.diffs],
        "plan_runtime_pairs": pairs,
    }
    return m, record


def _jsonable(v) -> bool:
    return isinstance(v, (str, int, float, bool)) or v is None


def _est_bytes(df) -> int | None:
    """Optimizer size estimate of a relation (driver-side, runs no job)."""
    try:
        return int(str(df._jdf.queryExecution().optimizedPlan().stats().sizeInBytes()))
    except Exception:
        return None


def hashing_rates(wl: Workload) -> dict:
    """Canonical-hash rows/s on both hash paths: pure-JVM members over the
    largest JSON-free table, JSON canonicalization over the JSON one."""
    from lotad_spark.hashing import with_row_hash

    m = {}
    for key, table, json_strings in (
        ("hashing.fast_rows_per_s", wl.manifest["hash_tables"]["fast"], False),
        ("hashing.arrow_rows_per_s", wl.manifest["hash_tables"]["arrow"], True),
    ):
        rows = wl.manifest["tables"][table]["rows"][0]
        df = with_row_hash(wl.db1.table(table), json_strings=json_strings)
        m[key] = (rows / noop_seconds(df), "rows/s")
    return m


def arrow_stage_cost(wl: Workload) -> float:
    """Mean extra seconds the Arrow canonicalization stage adds to hashing
    one small string table, from alternating with/without pairs."""
    from lotad_spark.hashing import with_row_hash

    tables = wl.manifest["arrow_cost_tables"]
    if not tables:
        return 0.0
    deltas = []
    for i in range(2):
        for t in tables:
            df = wl.db1.table(t)
            order = (True, False) if i % 2 == 0 else (False, True)
            took = {js: noop_seconds(with_row_hash(df, json_strings=js)) for js in order}
            deltas.append(took[True] - took[False])
    return statistics.median(deltas)


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--manifest", required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, default=0)
    ap.add_argument("--out", required=True)
    ap.add_argument("--work", required=True)
    ap.add_argument("--trace-file", default=None)
    ap.add_argument("--corrupt-expectation", action="store_true")
    args = ap.parse_args()
    with open(args.manifest) as fh:
        manifest = json.load(fh)

    from lotad_spark.session import get_spark

    t0 = time.perf_counter()
    spark = get_spark("perfbench")
    get_spark_s = time.perf_counter() - t0
    first_job(spark)
    t_ready = time.time()
    jvm_pid = int(spark._jvm.java.lang.ProcessHandle.current().pid())

    checker = Checker(manifest, args.corrupt_expectation)
    wl = Workload(spark, manifest, os.path.join(args.work, "out"), checker)
    cold_s = wl.compare()
    suggest_s = wl.suggest()
    warm = []
    start = time.perf_counter()
    while len(warm) < MIN_WARM_PASSES or time.perf_counter() - start < args.seconds:
        warm.append(wl.compare())
    warm_s = statistics.median(warm)
    result = {
        "t_process": T_START, "t_ready": t_ready,
        "cold_s": cold_s, "warm_s": warm_s, "warm_passes": warm,
        "suggest_s": suggest_s,
    }
    if args.trace:
        tp = traced_pass(spark, wl, "perfbench")
        layers, record = layer_metrics(wl, tp, warm_s)
        layers["session.get_spark_s"] = (get_spark_s, "s")
        layers.update(hashing_rates(wl))
        layers["q.arrow_stage_small_table_s"] = (arrow_stage_cost(wl), "s")
        result["layers"] = layers
        result["routes"] = record["routes"]
        result["route_mismatch"] = [
            f"{r['table']}: {r['strategy']}/{r['hash']}, intended "
            f"{'/'.join(str(x) for x in manifest['intent'][r['table']])}"
            for r in record["routes"]
            if r["strategy"] != manifest["intent"][r["table"]][0]
            or manifest["intent"][r["table"]][1] not in (None, r["hash"])
        ]
        if args.trace_file:
            record["manifest"] = manifest
            record["settings"] = {k: os.environ.get(k) for k in (
                "SPARK_GRAFT_CPUS", "SPARK_GRAFT_DRIVER_MEM", "SPARK_LOCAL_DIRS",
                "JAVA_TOOL_OPTIONS")}
            record["layers"] = layers
            with open(args.trace_file, "w") as fh:
                json.dump(record, fh, indent=1, default=str)
    result["peak_rss_mb"] = jvm_hwm_mb(jvm_pid)
    result.update(attempted=checker.attempted, failed=checker.failed,
                  errors=checker.errors)
    spark.stop()
    with open(args.out, "w") as fh:
        json.dump(result, fh)
    return 0


if __name__ == "__main__":
    sys.exit(main())

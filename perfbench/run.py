"""Closed-loop benchmark of the warehouse engine, one workload per run.

Usage, from the repository root:

    python3 perfbench/run.py --workload analyst_lakehouse --seed 1 --seconds 15 --trace 0

Workloads are frozen in ``perfbench/workloads.json``.  A run is one
process and one client, one operation at a time:

1. write the workload's tables (``datagen.py``, fixed data seed) into a
   private temp dir under ``.perfbench_tmp/``;
2. start Spark through the package's ``get_spark`` on
   ``local[<cores>]`` and run the untimed warm-up (query workloads:
   every query once, collected for the output check, then the
   workload's ``warm_passes`` into the noop sink);
3. run timed passes in the order ``--seed`` sets: the workload's
   ``min_passes``, then more while another still fits in ``--seconds``;
   each operation's latency is its median over the passes;
4. with ``--trace 1``, run one more pass with spans, job groups, /proc
   CPU and a Spark event log, and report per-layer metrics;
5. check outputs against the registry's DuckDB oracles, stop Spark and
   its JVM, delete the temp dir.

The last line of stdout is one JSON object; the lines before it are the
same numbers for people, plus day times, tail percentile and failures.
``.perfbench_out/`` keeps the spans of each traced run.
"""

from __future__ import annotations

import argparse
import datetime
import functools
import json
import os
import random
import shlex
import shutil
import statistics
import sys
import tempfile
import time
import traceback
from contextlib import contextmanager, nullcontext

from datagen import generate
from measure import (
    EVENT_METRICS,
    JobGroups,
    ProcTree,
    Tracer,
    median,
    parse_event_log,
    tail_percentile,
    tree_bytes,
)

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
PACKAGE = "datawarehouseproject_spark"

E2E_UNITS = {"setup_s": "s", "wall_s": "s", "op_gmean_s": "s", "op_max_s": "s"}
PIPELINE_STAGES = ("clean", "scd2", "load_dims", "load_aggregate", "load_marts")
SPAN_KINDS = ("workload", "op", "build", "plan", "exec", "stage", "ledger", "swap")
EXEC_KINDS = ("op", "exec", "stage")


# query workloads write only into the run's temp dir (native commits,
# engine scratch), which storage.files_written/bytes_written walk; only
# the pipeline swaps tables through overwrite_atomic
QUERY_ONLY = ("plans.", "catalyst.", "self.build_s", "self.plan_s", "self.exec_s")
ETL_ONLY = ("pipeline.", "ledger.", "storage.atomic_swaps", "storage.swap_s",
            "self.stage_s", "self.ledger_s", "self.swap_s")


def layer_units(kind: str) -> dict[str, str]:
    """Per-layer metric names and units reported for a workload kind."""
    u = {
        "session.start_s": "s",
        "session.warm_s": "s",
        "session.jvm_peak_rss_mb": "MB",
        "session.driver_peak_rss_mb": "MB",
        "plans.build_s": "s",
        "plans.build_jobs": "count",
        "catalyst.plan_s": "s",
        "exec.exec_s": "s",
        "exec.jobs": "count",
        "exec.stages": "count",
        "exec.tasks": "count",
        "exec.failed_tasks": "count",
        "exec.skipped_stages": "count",
        **{f"exec.{m}": "s" if m.endswith("_s") else "bytes" for m in EVENT_METRICS},
        "cpu.driver_s": "s",
        "cpu.jvm_s": "s",
        "cpu.py_worker_s": "s",
        **{f"pipeline.{st}_{x}": u for st in PIPELINE_STAGES for x, u in (("s", "s"), ("jobs", "count"))},
        "pipeline.rerun_s": "s",
        "ledger.log_calls": "count",
        "ledger.log_s": "s",
        "ledger.guard_s": "s",
        "ledger.jobs": "count",
        "storage.atomic_swaps": "count",
        "storage.swap_s": "s",
        "storage.files_written": "count",
        "storage.bytes_written": "bytes",
        "storage.bytes_per_input_byte": "ratio",
        "storage.tmp_bytes_left": "bytes",
        **{f"self.{k}_s": "s" for k in SPAN_KINDS},
        "trace.overhead_s": "s",
        "trace.spans": "count",
    }
    skip = QUERY_ONLY if kind == "etl" else ETL_ONLY
    return {k: v for k, v in u.items() if not k.startswith(skip)}


def _configure(run_dir: str, trace: bool) -> dict[str, str]:
    """Point every writer (Python, JVM, Spark, workers) into ``run_dir``
    and make the package importable by the Python workers."""
    paths = {
        k: os.path.join(run_dir, k)
        for k in ("data", "tmp", "spark-local", "spark-warehouse", "eventlog", "wh")
    }
    for p in paths.values():
        os.makedirs(p)
    os.environ["TMPDIR"] = paths["tmp"]
    tempfile.tempdir = None
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH", "")) if p
    )
    os.environ["PYSPARK_PYTHON"] = sys.executable
    os.environ["PYSPARK_DRIVER_PYTHON"] = sys.executable
    os.environ["SPARK_GRAFT_CPUS"] = str(len(os.sched_getaffinity(0)))
    os.environ["SPARK_LOCAL_DIRS"] = paths["spark-local"]
    os.environ["JAVA_TOOL_OPTIONS"] = f"-XX:-UsePerfData -Djava.io.tmpdir={paths['tmp']}"
    submit = [
        "--conf", f"spark.sql.warehouse.dir={paths['spark-warehouse']}",
        "--conf", "spark.ui.showConsoleProgress=false",
    ]
    if trace:
        submit += [
            "--conf", "spark.eventLog.enabled=true",
            "--conf", f"spark.eventLog.dir=file://{paths['eventlog']}",
            "--conf", "spark.eventLog.compress=false",
        ]
    os.environ["PYSPARK_SUBMIT_ARGS"] = shlex.join(submit + ["pyspark-shell"])
    return paths


def _start_spark():
    from datawarehouseproject_spark.session import get_spark, tune_session

    t0 = time.perf_counter()
    spark = get_spark("perfbench")
    tune_session(spark)
    spark.sparkContext.setLogLevel("ERROR")
    return spark, time.perf_counter() - t0


def _stop_spark(spark) -> None:
    """Stop Spark, then end its JVM (which ends the Python daemon) and
    wait for it; pyspark alone leaves the JVM to die after we exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    try:
        gateway.shutdown()
    finally:
        if proc is not None:
            proc.stdin.close()
            try:
                proc.wait(timeout=60)
            except Exception:
                proc.kill()
                proc.wait()
        SparkContext._gateway = None
        SparkContext._jvm = None


def _wait_gone(pids: list[int], timeout: float = 30.0) -> None:
    """Wait for processes that are not our children (the daemon and its
    workers) to exit; kill any still there at the deadline."""
    deadline = time.monotonic() + timeout
    for pid in pids:
        while os.path.exists(f"/proc/{pid}") and time.monotonic() < deadline:
            time.sleep(0.05)
        if os.path.exists(f"/proc/{pid}"):
            try:
                os.kill(pid, 9)
            except OSError:
                pass


class Run:
    def __init__(self, name: str, wl: dict, seed: int, seconds: float, trace: bool, paths: dict):
        self.name, self.wl, self.seed = name, wl, seed
        self.seconds, self.trace, self.paths = seconds, trace, paths
        self.sf_dir = paths["data"]
        self.attempted = 0
        self.failed = 0
        self.failures: list[str] = []
        self.e2e: dict[str, float] = {}
        self.layer: dict[str, float] = {}
        self.lines: list[str] = []
        self.procs = ProcTree()

    # ---------------- bookkeeping ----------------
    def _fail(self, what: str, err: BaseException | str) -> None:
        self.failed += 1
        msg = err if isinstance(err, str) else f"{type(err).__name__}: {str(err).splitlines()[0][:200] if str(err) else ''}"
        self.failures.append(f"{what}: {msg}")
        if isinstance(err, BaseException):
            traceback.print_exception(err, file=sys.stderr)

    def _closed_loop(self, one_pass) -> list[float]:
        """Timed passes: the workload's ``min_passes``, then more only
        while another pass of the last length still fits in ``--seconds``."""
        walls: list[float] = []
        t0 = time.perf_counter()
        while True:
            walls.append(one_pass())
            if len(walls) >= self.wl["min_passes"] and time.perf_counter() - t0 + walls[-1] > self.seconds:
                return walls

    # ---------------- query workloads ----------------
    def run_queries(self, spark, start_s: float) -> None:
        from datawarehouseproject_spark.plans.registry import oracle_sql, queries

        fns, oracles = queries(), oracle_sql()
        order = list(self.wl["queries"])
        random.Random(self.seed).shuffle(order)

        outputs: dict[str, tuple[list[str], list[tuple]] | BaseException] = {}
        t0 = time.perf_counter()
        for q in order:
            try:
                df = fns[q](spark, self.sf_dir)
                outputs[q] = (df.columns, [tuple(r) for r in df.collect()])
            except Exception as e:  # noqa: BLE001  (a failing query is a counted failure)
                outputs[q] = e
            spark.catalog.clearCache()
        # Untimed noop passes: on 4 cores the passes after the collect pass
        # still ran 10-35 % faster each while the JVM warmed, and timing
        # them made runs of the same code disagree.  A query that fails
        # here fails again, and is counted, in the timed passes.
        for _ in range(self.wl["warm_passes"]):
            for q in order:
                try:
                    fns[q](spark, self.sf_dir).write.format("noop").mode("overwrite").save()
                except Exception:  # noqa: BLE001
                    pass
                spark.catalog.clearCache()
        warm_s = time.perf_counter() - t0
        self.e2e["setup_s"] = start_s + warm_s

        lat: dict[str, list[float]] = {q: [] for q in order}

        def one_pass() -> float:
            t_pass = time.perf_counter()
            for q in order:
                t = time.perf_counter()
                try:
                    fns[q](spark, self.sf_dir).write.format("noop").mode("overwrite").save()
                except Exception as e:  # noqa: BLE001
                    self._fail(f"query {q}", e)
                lat[q].append(time.perf_counter() - t)
                self.attempted += 1
                spark.catalog.clearCache()
            return time.perf_counter() - t_pass

        walls = self._closed_loop(one_pass)
        self._summarise(walls, lat, "query")
        if self.trace:
            self._traced(spark, start_s, warm_s, walls, one_pass,
                         lambda tr, g: self._traced_queries(spark, fns, order, tr, g))

        from oracle import Oracle

        oracle = Oracle(self.sf_dir, self.paths["tmp"])
        try:
            for q in self.wl["queries"]:
                self.attempted += 1
                out = outputs.get(q)
                if isinstance(out, BaseException):
                    self._fail(f"check {q}", out)
                elif q not in oracles:
                    if not out[1]:
                        self._fail(f"check {q}", "0 rows and no oracle")
                else:
                    why = oracle.check(oracles[q], out[0], out[1])
                    if why:
                        self._fail(f"check {q}", why)
        finally:
            oracle.close()

    def _traced_queries(self, spark, fns, order, tracer, groups) -> float:
        t_pass = time.perf_counter()
        with tracer.span(self.name, "workload", op=self.name):
            for q in order:
                with tracer.span(q, "op", op=q):
                    try:
                        with tracer.span("build", "build"), groups.group("build", q):
                            df = fns[q](spark, self.sf_dir)
                        with tracer.span("plan", "plan"), groups.group("plan", q):
                            df._jdf.queryExecution().executedPlan()
                        with tracer.span("exec", "exec"), groups.group("exec", q):
                            df.write.format("noop").mode("overwrite").save()
                    except Exception as e:  # noqa: BLE001
                        self._fail(f"traced query {q}", e)
                self.attempted += 1
                groups.collect()
                spark.catalog.clearCache()
        return time.perf_counter() - t_pass

    # ---------------- daily ETL ----------------
    def run_etl(self, spark, start_s: float) -> None:
        from datawarehouseproject_spark.catalog import load_table
        from datawarehouseproject_spark.plans.queries_ref import (
            DIRTY2_FRAGMENTS,
            DIRTY_FRAGMENTS,
            NEW_PRODUCT_EXPRS,
        )

        t0 = time.perf_counter()
        part = load_table(spark, self.sf_dir, "part")
        raw1 = part.selectExpr(*[f"{sql} AS {col}" for col, sql in DIRTY_FRAGMENTS.items()])
        raw2 = part.selectExpr(
            *[f"{sql} AS {col}" for col, sql in DIRTY2_FRAGMENTS.items()]
        ).unionByName(part.filter("p_partkey % 20 = 0").selectExpr(*NEW_PRODUCT_EXPRS))
        feeds = {"DIRTY_FRAGMENTS": raw1, "DIRTY2_FRAGMENTS + NEW_PRODUCT_EXPRS": raw2}
        self.e2e["setup_s"] = start_s + time.perf_counter() - t0
        days = self.wl["days"]
        lat: dict[str, list[float]] = {f"day{i + 1}": [] for i in range(len(days))}
        results: list = []
        roots: list[str] = []

        def one_pass(tracer=None, groups=None) -> float:
            tracer = tracer or Tracer(enabled=False)
            root = tempfile.mkdtemp(prefix="pass-", dir=self.paths["wh"])
            roots.append(root)
            pipe = self._pipeline(spark, root)
            results.clear()
            t_pass = time.perf_counter()
            with tracer.span(self.name, "workload", op=self.name):
                for i, day in enumerate(days):
                    label = f"day{i + 1}"
                    t = time.perf_counter()
                    try:
                        op_group = groups.group("op", label) if groups else nullcontext()
                        with tracer.span(label, "op", op=label), op_group:
                            results.append(
                                pipe.run_day(
                                    feeds[day["feed"]],
                                    datetime.date.fromisoformat(day["for_date"]),
                                    now=day["now"],
                                )
                            )
                    except Exception as e:  # noqa: BLE001
                        results.append(e)
                        self._fail(f"run_day {label}", e)
                    if not tracer.enabled:
                        lat[label].append(time.perf_counter() - t)
                    self.attempted += 1
                    if groups:
                        groups.collect()
            return time.perf_counter() - t_pass

        walls = self._closed_loop(one_pass)
        self._summarise(walls, lat, "run_day")
        day_keys = list(lat)
        self.lines.append(
            "  " + "  ".join(f"{k}_s={lat[k][-1]:.3f}" for k in day_keys)
            + "  (last pass; day 3 is the guarded rerun)"
        )
        checked_results = list(results)
        checked_root = roots[-1]
        if self.trace:
            def traced(tracer, groups) -> float:
                with _instrument_etl(tracer, groups):
                    return one_pass(tracer, groups)

            self._traced(spark, start_s, 0.0, walls, one_pass, traced, etl_root=lambda: roots[-2],
                         input_bytes=os.path.getsize(os.path.join(self.sf_dir, "part.parquet")))
        self._check_etl(spark, checked_root, checked_results)

    @staticmethod
    def _pipeline(spark, root: str):
        from datawarehouseproject_spark.catalog import Catalog
        from datawarehouseproject_spark.plans.ledger import RunLedger
        from datawarehouseproject_spark.plans.pipeline import Pipeline

        return Pipeline(Catalog(spark, root), RunLedger(spark, os.path.join(root, "control", "process_log")))

    def _check_etl(self, spark, root: str, results: list) -> None:
        from pyspark.sql import functions as F

        from datawarehouseproject_spark.catalog import Catalog
        from datawarehouseproject_spark.plans.registry import oracle_sql
        from oracle import Oracle

        oracles = oracle_sql()
        for i, (day, res) in enumerate(zip(self.wl["days"], results)):
            if "expect" in day:
                self.attempted += 1
                if res != day["expect"]:
                    self._fail(f"check day{i + 1}", f"returned {res!r}, expected {day['expect']!r}")
        self.attempted += 1
        try:
            pipe = self._pipeline(spark, root)
            missing = [
                d["for_date"]
                for d in self.wl["days"]
                if not pipe.ledger.succeeded_for("pipeline", datetime.date.fromisoformat(d["for_date"]))
            ]
            if missing:
                self._fail("check ledger", f"no SUCCESS record for {sorted(set(missing))}")
        except Exception as e:  # noqa: BLE001
            self._fail("check ledger", e)
        marts = {
            "pipeline_two_day": "dm_product_daily_price",
            "pipeline_two_day_quarterly": "dm_product_quarterly_trend",
        }
        oracle = Oracle(self.sf_dir, self.paths["tmp"])
        try:
            for q in self.wl["oracles"]:
                self.attempted += 1
                try:
                    cols = oracle.columns(oracles[q])
                    mart = Catalog(spark, root).table(marts[q], "mart").select(
                        *[F.col(c).cast("double").alias(c) if "PRICE" in c else F.col(c) for c in cols]
                    )
                    why = oracle.check(oracles[q], mart.columns, [tuple(r) for r in mart.collect()])
                    if why:
                        self._fail(f"check {q}", why)
                except Exception as e:  # noqa: BLE001
                    self._fail(f"check {q}", e)
        finally:
            oracle.close()

    # ---------------- shared ----------------
    def _summarise(self, walls: list[float], lat: dict[str, list[float]], op: str) -> None:
        samples = [x for xs in lat.values() for x in xs]
        per_op = {k: median(xs) for k, xs in lat.items()}
        slowest = max(per_op, key=per_op.get)
        self.e2e["wall_s"] = sum(per_op.values())
        # every operation weighs the same, as in TPC-H's power metric; a
        # median over a mix of fast rollups and slow lakehouse queries falls
        # on the edge of one latency cluster, where it jumps between runs
        self.e2e["op_gmean_s"] = statistics.geometric_mean(per_op.values())
        self.e2e["op_max_s"] = per_op[slowest]
        tail = tail_percentile(samples)
        self.lines.append(
            f"  passes={len(walls)} {op} operations/pass={len(lat)} samples={len(samples)} "
            f"slowest={slowest} pass_walls={[round(w, 3) for w in walls]}"
        )
        self.lines.append(
            f"  p50_s={median(samples):.3f}  "
            f"tail_s={'p%d %.3f' % tail if tail else 'absent (fewer than 10 samples beyond p50)'}"
        )

    def _traced(self, spark, start_s, warm_s, walls, untraced_pass, traced_pass,
                etl_root=None, input_bytes=None) -> None:
        """One traced pass, then one more untraced pass: the overhead is
        the traced wall minus the mean of the untraced passes around it,
        so warm-up still under way between passes does not read as a
        negative overhead."""

        tracer = Tracer()
        prefix = f"perfbench-traced-{os.getpid()}"
        groups = JobGroups(spark.sparkContext, prefix)
        tmp_before = tree_bytes(self.paths["tmp"])
        cpu0 = self.procs.cpu()
        wall = traced_pass(tracer, groups)
        cpu1 = self.procs.cpu()
        groups.collect()
        tmp_after = tree_bytes(self.paths["tmp"])
        after = untraced_pass()
        if etl_root is not None:
            files, size = tree_bytes(etl_root())
        else:
            files, size = tmp_after[0] - tmp_before[0], tmp_after[1] - tmp_before[1]
        if input_bytes is None:
            input_bytes = tree_bytes(self.sf_dir)[1]
        L = self.layer
        L["session.start_s"] = start_s
        L["session.warm_s"] = warm_s
        for k, v in cpu1.items():
            L[f"cpu.{k}"] = v - cpu0[k]
        L["plans.build_s"] = tracer.total("build")
        L["plans.build_jobs"] = groups.totals("build").jobs
        L["catalyst.plan_s"] = tracer.total("plan")
        L["exec.exec_s"] = tracer.total("exec") + tracer.total("stage")
        ex = groups.totals(*EXEC_KINDS)
        for k, v in ex.__dict__.items():
            L[f"exec.{k}"] = v
        for st in PIPELINE_STAGES:
            L[f"pipeline.{st}_s"] = tracer.total("stage", st)
            L[f"pipeline.{st}_jobs"] = groups.label_totals("stage", st).jobs
        rerun = [s for s in tracer.spans if s.kind == "op" and s.name == "day3"]
        L["pipeline.rerun_s"] = sum(s.end - s.start for s in rerun)
        L["ledger.log_calls"] = sum(1 for s in tracer.spans if s.kind == "ledger" and s.name == "log")
        L["ledger.log_s"] = tracer.total("ledger", "log")
        L["ledger.guard_s"] = tracer.total("ledger", "guard")
        L["ledger.jobs"] = groups.totals("ledger").jobs
        L["storage.atomic_swaps"] = tracer.count("swap")
        L["storage.swap_s"] = tracer.total("swap")
        L["storage.files_written"] = files
        L["storage.bytes_written"] = size
        L["storage.bytes_per_input_byte"] = size / input_bytes if input_bytes else 0.0
        L["storage.tmp_bytes_left"] = tmp_after[1] - tmp_before[1]
        self_t = tracer.self_times()
        for k in SPAN_KINDS:
            L[f"self.{k}_s"] = self_t.get(k, 0.0)
        L["trace.overhead_s"] = wall - (walls[-1] + after) / 2
        L["trace.spans"] = len(tracer.spans)
        self._trace_artifacts = (tracer, prefix)

    def finish_layers(self) -> None:
        """After Spark stopped: event-log sums and the span dump."""
        tracer, prefix = self._trace_artifacts
        for k, v in parse_event_log(self.paths["eventlog"], prefix).items():
            self.layer[f"exec.{k}"] = v
        out = os.path.join(ROOT, ".perfbench_out")
        os.makedirs(out, exist_ok=True)
        tracer.dump(os.path.join(out, f"spans-{self.name}-seed{self.seed}.jsonl"))


@contextmanager
def _instrument_etl(tracer, groups):
    """Wrap the pipeline's stage, ledger and swap entry points in spans
    (and job groups) for the traced pass; restore them afterwards."""
    import datawarehouseproject_spark.plans.pipeline as pipeline_mod
    import datawarehouseproject_spark.sources.parquet as parquet_mod
    from datawarehouseproject_spark.plans.ledger import RunLedger
    from datawarehouseproject_spark.plans.pipeline import Pipeline

    saved = []

    def wrap(owner, attr, kind, name, grouped=True):
        orig = getattr(owner, attr)

        @functools.wraps(orig)
        def wrapper(*a, **k):
            if grouped:
                with tracer.span(name, kind), groups.group(kind, name):
                    return orig(*a, **k)
            with tracer.span(name, kind):
                return orig(*a, **k)

        saved.append((owner, attr, orig))
        setattr(owner, attr, wrapper)

    for st in PIPELINE_STAGES:
        wrap(Pipeline, st, "stage", st)
    wrap(RunLedger, "log", "ledger", "log")
    wrap(RunLedger, "succeeded_for", "ledger", "guard")
    wrap(pipeline_mod, "overwrite_atomic", "swap", "overwrite_atomic", grouped=False)
    wrap(parquet_mod, "overwrite_atomic", "swap", "overwrite_atomic", grouped=False)
    try:
        yield
    finally:
        for owner, attr, orig in reversed(saved):
            setattr(owner, attr, orig)


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, default=0)
    ap.add_argument("--seconds", type=float, default=30.0)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    needed = [os.path.join(ROOT, PACKAGE, "__init__.py"), os.path.join(ROOT, "tools", "check_oracle.py")]
    if not all(os.path.isfile(p) for p in needed):
        print(f"perfbench: {PACKAGE}/ and tools/check_oracle.py must sit next to perfbench/ in {ROOT}",
              file=sys.stderr)
        return 2
    with open(os.path.join(HERE, "workloads.json")) as f:
        spec = json.load(f)
    wl = spec["workloads"].get(args.workload)
    if wl is None:
        print(f"perfbench: unknown workload {args.workload!r}; known: {sorted(spec['workloads'])}",
              file=sys.stderr)
        return 2

    sys.path[:0] = [ROOT, os.path.join(ROOT, "tools")]
    base = os.path.join(ROOT, ".perfbench_tmp")
    os.makedirs(base, exist_ok=True)
    run_dir = tempfile.mkdtemp(prefix=f"{args.workload}-", dir=base)
    try:
        paths = _configure(run_dir, bool(args.trace))
        generate(paths["data"], wl["sf"])
        run = Run(args.workload, wl, args.seed, args.seconds, bool(args.trace), paths)
        spark, start_s = _start_spark()
        daemons: list[int] = []
        try:
            if wl["kind"] == "etl":
                run.run_etl(spark, start_s)
            else:
                run.run_queries(spark, start_s)
            rss = run.procs.peak_rss_mb()
            run.layer.update({f"session.{k}": v for k, v in rss.items()})
            daemons = run.procs.python_pids()
        finally:
            _stop_spark(spark)
            _wait_gone(daemons)
        if args.trace:
            run.finish_layers()
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)
        try:
            os.rmdir(base)
        except OSError:
            pass

    if args.trace:
        units = layer_units(wl["kind"])
        metrics = {k: {"value": run.layer.get(k, 0.0), "unit": u} for k, u in units.items()}
    else:
        metrics = {k: {"value": run.e2e[k], "unit": u} for k, u in E2E_UNITS.items()}
    cores = os.environ["SPARK_GRAFT_CPUS"]
    print(f"perfbench workload={args.workload} seed={args.seed} cores={cores} sf={wl['sf']} trace={args.trace}")
    for line in run.lines:
        print(line)
    for k, v in metrics.items():
        print(f"  {k} = {v['value']:.6g} {v['unit']}")
    rate = run.failed / run.attempted if run.attempted else 0.0
    print(f"  error_rate = {run.failed}/{run.attempted} = {rate:.4f}")
    for f in run.failures:
        print(f"  FAILED {f}")
    print(json.dumps({
        "correct": run.failed == 0,
        "attempted": run.attempted,
        "failed": run.failed,
        "metrics": metrics,
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())

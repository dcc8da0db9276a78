"""Tests for the benchmark's own helpers (no Spark needed)."""

import json
import os

import pyarrow as pa
import pytest

import datagen
from measure import GroupCounts, JobGroups, ProcTree, Span, Tracer, parse_event_log, tail_percentile
from oracle import Oracle, compare


# ---------------- tail percentile ----------------
@pytest.mark.parametrize(
    "n, expected",
    [(43, (76, 33)), (31, (67, 21)), (100, (90, 90)), (21, (52, 11))],
)
def test_tail_percentile_keeps_ten_samples_beyond(n, expected):
    samples = [float(i) for i in range(n, 0, -1)]  # order must not matter
    p, value = tail_percentile(samples)
    assert (p, value) == expected
    assert sum(1 for s in samples if s > value) >= 10


@pytest.mark.parametrize("n", [0, 1, 12, 20])
def test_tail_percentile_absent_when_sample_too_small(n):
    assert tail_percentile([1.0] * n) is None


# ---------------- span self time ----------------
def _spans(*rows):
    t = Tracer()
    t.spans = [Span(name, kind, start, end, parent) for name, kind, start, end, parent in rows]
    return t


def test_self_time_counts_overlapping_children_once():
    t = _spans(
        ("q", "op", 0.0, 10.0, None),
        ("a", "exec", 1.0, 4.0, 0),
        ("b", "exec", 3.0, 6.0, 0),  # overlaps a
        ("c", "exec", 8.0, 12.0, 0),  # runs past its parent: clipped
    )
    self_t = t.self_times()
    assert self_t["op"] == pytest.approx(10.0 - 5.0 - 2.0)
    assert self_t["exec"] == pytest.approx(3.0 + 3.0 + 4.0)


def test_self_time_nested_and_grandchildren_belong_to_their_parent():
    t = _spans(
        ("w", "workload", 0.0, 10.0, None),
        ("d", "op", 0.0, 9.0, 0),
        ("s", "stage", 1.0, 5.0, 1),
        ("l", "ledger", 2.0, 3.0, 2),
    )
    self_t = t.self_times()
    assert self_t == pytest.approx({"workload": 1.0, "op": 5.0, "stage": 3.0, "ledger": 1.0})


def test_tracer_records_parent_and_op():
    t = Tracer()
    with t.span("w", "workload", op="run"):
        with t.span("q1", "op", op="q1"):
            with t.span("build", "build"):
                pass
    assert [(s.name, s.parent, s.op) for s in t.spans] == [
        ("w", None, "run"),
        ("q1", 0, "q1"),
        ("build", 1, "q1"),
    ]
    assert all(s.end >= s.start for s in t.spans)


def test_disabled_tracer_records_nothing():
    t = Tracer(enabled=False)
    with t.span("w", "workload"):
        pass
    assert t.spans == [] and t.self_times() == {}


# ---------------- job groups ----------------
class _Job:
    def __init__(self, stage_ids):
        self.stageIds = stage_ids


class _Stage:
    def __init__(self, completed, failed=0):
        self.numCompletedTasks = completed
        self.numFailedTasks = failed


class _FakeSC:
    """Records the current job group; every job submitted while a group
    is set is charged to it, like Spark's thread-local property."""

    def __init__(self):
        self.props = {}
        self.jobs_by_group = {}
        self.jobs = {}
        self.stages = {}

    def getLocalProperty(self, k):
        return self.props.get(k)

    def setLocalProperty(self, k, v):
        if v is None:
            self.props.pop(k, None)
        else:
            self.props[k] = v

    def setJobGroup(self, gid, desc):
        self.props["spark.jobGroup.id"] = gid
        self.props["spark.job.description"] = desc

    def run_job(self, stages):
        jid = len(self.jobs)
        ids = []
        for st in stages:
            sid = len(self.stages)
            self.stages[sid] = st
            ids.append(sid)
        self.jobs[jid] = _Job(ids)
        gid = self.props.get("spark.jobGroup.id")
        self.jobs_by_group.setdefault(gid, []).append(jid)

    def statusTracker(self):
        return self

    def getJobIdsForGroup(self, gid):
        return self.jobs_by_group.get(gid, [])

    def getJobInfo(self, jid):
        return self.jobs[jid]

    def getStageInfo(self, sid):
        return self.stages[sid]


def test_job_groups_count_per_group_and_restore_outer_group():
    sc = _FakeSC()
    g = JobGroups(sc, "pfx")
    with g.group("stage", "scd2"):
        sc.run_job([_Stage(4), _Stage(0)])  # second stage skipped
        with g.group("ledger", "log"):
            sc.run_job([_Stage(1)])
        sc.run_job([_Stage(3, failed=1)])  # back in the stage group
    assert sc.getLocalProperty("spark.jobGroup.id") is None
    sc.run_job([_Stage(9)])  # outside any group: not counted
    g.collect()
    assert g.label_totals("stage", "scd2") == GroupCounts(
        jobs=2, stages=2, tasks=8, failed_tasks=1, skipped_stages=1
    )
    assert g.totals("ledger") == GroupCounts(jobs=1, stages=1, tasks=1)
    assert g.totals("stage", "ledger").jobs == 3


def test_job_groups_sum_repeated_labels_and_collect_once():
    sc = _FakeSC()
    g = JobGroups(sc, "pfx")
    for _ in range(3):
        with g.group("exec", "q"):
            sc.run_job([_Stage(2)])
        g.collect()
    g.collect()  # nothing pending: no double count
    assert g.label_totals("exec", "q") == GroupCounts(jobs=3, stages=3, tasks=6)


# ---------------- event log ----------------
def test_parse_event_log_sums_only_groups_with_prefix(tmp_path):
    d = tmp_path / "eventlog_v2_local-1"
    d.mkdir()
    events = [
        {"Event": "SparkListenerJobStart", "Job ID": 0, "Stage IDs": [0, 1],
         "Properties": {"spark.jobGroup.id": "traced:exec:q:1"}},
        {"Event": "SparkListenerJobStart", "Job ID": 1, "Stage IDs": [2],
         "Properties": {"spark.jobGroup.id": "other"}},
        {"Event": "SparkListenerTaskEnd", "Stage ID": 0, "Task Metrics": {
            "Executor Run Time": 1500, "JVM GC Time": 100, "Memory Bytes Spilled": 5,
            "Disk Bytes Spilled": 7, "Shuffle Read Metrics": {"Remote Bytes Read": 0, "Local Bytes Read": 40},
            "Shuffle Write Metrics": {"Shuffle Bytes Written": 30}}},
        {"Event": "SparkListenerTaskEnd", "Stage ID": 2, "Task Metrics": {"Executor Run Time": 9999}},
    ]
    half = len(events) // 2
    (d / "events_1_local-1").write_text("".join(json.dumps(e) + "\n" for e in events[:half]))
    (d / "events_2_local-1").write_text("".join(json.dumps(e) + "\n" for e in events[half:]))
    (d / ".events_1_local-1.crc").write_bytes(b"crc\0")
    (d / "appstatus_local-1").write_text("")
    out = parse_event_log(str(tmp_path), "traced")
    assert out == {"shuffle_read_bytes": 40, "shuffle_write_bytes": 30, "spill_bytes": 12,
                   "gc_s": 0.1, "executor_run_s": 1.5}


# ---------------- /proc ----------------
def test_proc_tree_reads_own_cpu_without_a_jvm():
    sum(i * i for i in range(200_000))
    cpu = ProcTree(os.getpid()).cpu()
    assert cpu["driver_s"] > 0
    assert cpu["jvm_s"] == 0 and cpu["py_worker_s"] == 0
    assert ProcTree(os.getpid()).peak_rss_mb()["driver_peak_rss_mb"] > 0


# ---------------- oracle comparison ----------------
def test_compare_ignores_row_and_column_order():
    assert compare([(1, "a"), (2, "b")], ["X", "y"], [("b", 2), ("a", 1)], ["y", "x"]) is None


@pytest.mark.parametrize(
    "srows, scols, reason",
    [
        ([(1,)], ["x"], "rows 1 vs oracle 2"),
        ([(1,), (3,)], ["x"], "values differ in 1/2 rows"),
        ([(1,), (2,)], ["z"], "columns"),
        ([(1.0,), (2,)], ["x"], "values differ"),  # repr(1.0) != repr(1)
    ],
)
def test_compare_reports_mismatch(srows, scols, reason):
    assert reason in compare(srows, scols, [(1,), (2,)], ["x"])


def test_oracle_runs_sql_over_generated_tables(tmp_path):
    datagen.generate(str(tmp_path), 0.0005)
    o = Oracle(str(tmp_path), str(tmp_path))
    try:
        sql = "SELECT r_name, count(*) AS n FROM region JOIN nation ON n_regionkey = r_regionkey GROUP BY 1"
        rows = [("AFRICA", 5), ("AMERICA", 5), ("ASIA", 5), ("EUROPE", 5), ("MIDDLE EAST", 5)]
        assert o.check(sql, ["r_name", "n"], rows) is None
        assert o.check(sql, ["r_name", "n"], rows[:-1]) == "rows 4 vs oracle 5"
    finally:
        o.close()


# ---------------- data generator ----------------
def test_datagen_is_deterministic_and_matches_the_catalog_schema():
    from datawarehouseproject_spark.catalog import EXPECTED_SCHEMAS

    a, b = datagen.build_tables(0.001), datagen.build_tables(0.001)
    spark_types = {pa.int32(): "int", pa.int64(): "bigint", pa.float64(): "double",
                   pa.string(): "string", pa.timestamp("us"): "timestamp_ntz",
                   pa.list_(pa.float32()): "array<float>"}
    for name in datagen.TABLES:
        assert a[name].equals(b[name])
        for col, allowed in EXPECTED_SCHEMAS.get(name, {}).items():
            assert spark_types[a[name].schema.field(col).type] in allowed, (name, col)
    assert a["lineitem"].num_rows == 6000 and a["part"].num_rows == 200
    assert not datagen.build_tables(0.001, seed=7)["orders"].equals(a["orders"])


@pytest.mark.skipif(
    not os.environ.get("PERFBENCH_REFERENCE_DATA"),
    reason="set PERFBENCH_REFERENCE_DATA=<dir of the project's test tables> and PERFBENCH_REFERENCE_SF=<its scale>",
)
def test_datagen_matches_reference_tables_in_schema_and_row_count():
    import pyarrow.parquet as pq

    ref_dir = os.environ["PERFBENCH_REFERENCE_DATA"]
    gen = datagen.build_tables(float(os.environ.get("PERFBENCH_REFERENCE_SF", "0.01")))
    for name in datagen.TABLES:
        ref = pq.read_table(os.path.join(ref_dir, f"{name}.parquet"))
        assert gen[name].schema.names == ref.schema.names, name
        assert gen[name].schema.types == ref.schema.types, name
        assert gen[name].num_rows == ref.num_rows, name

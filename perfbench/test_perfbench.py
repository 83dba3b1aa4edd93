"""Tests for the benchmark's own code: statistics, span self time, the
event-log rollup, the metric catalogue, and every output check failing
on a deliberately corrupted output.

    python -m pytest perfbench -q
"""

from __future__ import annotations

import json
import os
import shutil
import sys
import time

import pytest

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

from perfbench import checks, run  # noqa: E402
from perfbench.stats import median, quartile_spread  # noqa: E402
from perfbench.tracing import PeakPss, Span, Tracer, rollup_event_log  # noqa: E402

# --------------------------------------------------------- pure python


def test_median_and_quartile_spread():
    assert median([3.0, 1.0, 2.0]) == 2.0
    assert median([]) == 0.0
    assert quartile_spread([10.0] * 5) == 0.0
    # quantiles(n=4) of 1..9 (exclusive method): 2.5, 5, 7.5
    assert quartile_spread([float(v) for v in range(1, 10)]) == pytest.approx(1.0)


def test_span_self_time_subtracts_union_of_children():
    t = Tracer()
    t.spans = [
        Span("cmd", 0.0, 10.0),
        Span("a", 1.0, 3.0, parent=0),
        Span("b", 2.0, 5.0, parent=0),  # overlaps a: union [1, 5]
        Span("c", 8.0, 12.0, parent=0),  # clipped at the parent's end
        Span("grandchild", 1.5, 2.5, parent=1),  # not a direct child
    ]
    assert t.self_time(0) == pytest.approx(10.0 - 4.0 - 2.0)
    assert t.self_time(1) == pytest.approx(1.0)


def test_span_nesting_and_cpu_without_spark():
    t = Tracer()
    with t.span("outer"):
        assert t.current() == "outer"
        with t.span("inner"):
            assert t.current() == "inner"
    assert t.current() == ""
    assert [s.parent for s in t.spans] == [None, 0]
    assert set(t.spans[0].cpu) == {"driver", "jvm", "py"}


def test_pss_sampler_reports_python_side_peak_and_its_own_cpu(monkeypatch):
    monkeypatch.setattr(PeakPss, "INTERVAL_S", 0.01)
    with PeakPss() as pss:
        time.sleep(0.2)
    assert pss.peak_by_class["driver"] > 0
    assert pss.peak_python_mb >= pss.peak_by_class["driver"]
    # the sampling thread's CPU is counted, and is far below its lifetime
    assert 0 < pss.cpu_s < 0.2


def _task(stage, launch, finish, cpu_ns=0, shuffle=0, spill=0):
    return {
        "Event": "SparkListenerTaskEnd", "Stage ID": stage, "Stage Attempt ID": 0,
        "Task Info": {"Launch Time": launch, "Finish Time": finish},
        "Task Metrics": {
            "Executor CPU Time": cpu_ns, "JVM GC Time": 0,
            "Shuffle Write Metrics": {"Shuffle Bytes Written": shuffle},
            "Shuffle Read Metrics": {"Remote Bytes Read": 0, "Local Bytes Read": 0},
            "Memory Bytes Spilled": 0, "Disk Bytes Spilled": spill,
        },
    }


def test_event_log_rollup_by_job_group(tmp_path):
    events = [
        {"Event": "SparkListenerApplicationStart"},
        {"Event": "SparkListenerJobStart", "Job ID": 0, "Stage IDs": [0, 1],
         "Properties": {"spark.jobGroup.id": "extract"}},
        {"Event": "SparkListenerJobStart", "Job ID": 1, "Stage IDs": [1, 2],
         "Properties": {"spark.jobGroup.id": "compare"}},
        {"Event": "SparkListenerJobStart", "Job ID": 2, "Stage IDs": [3], "Properties": {}},
        # stage 0: short stage; stage 1: longest stage of 'extract', skewed
        _task(0, 0, 100, cpu_ns=50_000_000, shuffle=2048),
        _task(1, 1000, 1100), _task(1, 1000, 1100), _task(1, 1000, 1500, spill=4096),
        # stage 2 belongs to job 1 (stage 1 was claimed by job 0)
        _task(2, 0, 10), _task(2, 0, 30),
        _task(3, 0, 5),
    ]
    log = tmp_path / "app-1"
    log.write_text("\n".join(json.dumps(e) for e in events) + "\n")
    r = rollup_event_log(str(log))
    ext = r["extract"]
    assert (ext["jobs"], ext["tasks"]) == (1, 4)
    assert ext["task_s"] == pytest.approx(0.8)
    assert ext["task_cpu_s"] == pytest.approx(0.05)
    assert ext["shuffle_write_bytes"] == 2048
    assert ext["spill_disk_bytes"] == 4096
    assert ext["task_skew"] == pytest.approx(500 / 100)
    assert (r["compare"]["jobs"], r["compare"]["tasks"]) == (1, 2)
    assert r["compare"]["task_skew"] == pytest.approx(30 / 20)
    assert r[""]["tasks"] == 1  # jobs without a group


def test_benchmark_json_matches_the_metric_catalogue():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    assert {m["name"]: m["unit"] for m in spec["end_to_end"]} == run.END_TO_END
    assert {m["name"]: m["unit"] for m in spec["per_layer"]} == run.per_layer_units()
    assert [w["name"] for w in spec["workloads"]] == list(run.WORKLOADS)


# ------------------------------------------------------ output checks


@pytest.fixture(scope="module")
def spark():
    from cli_spark.session import get_spark

    s = get_spark("perfbench_tests", master="local[2]", shuffle_partitions=4)
    yield s
    s.stop()


N_FILES = 30


@pytest.fixture(scope="module")
def kg_op(spark, tmp_path_factory):
    """One kg_build operation on a 30-file corpus, through the workload."""
    from perfbench.workloads import KgBuild

    wl = KgBuild(str(tmp_path_factory.mktemp("kg")))
    wl.N_FILES = N_FILES
    wl.setup(spark, 3)
    return wl, wl.op(spark, "t")


@pytest.fixture(scope="module")
def kg_workdir(kg_op):
    _, res = kg_op
    return res["workdir"], res["triples"]


def test_workload_metrics_cover_the_per_operation_metrics(spark, kg_op, jelly_op):
    from perfbench.workloads import JellyBulk

    per_op = set(run.END_TO_END) - {"setup_s", "peak_py_pss_mb"}
    wl, res = kg_op
    assert set(wl.metrics(spark, res, 1.0, 1.0)) == per_op
    src, n, paths, _ = jelly_op
    bulk = JellyBulk(os.path.dirname(src))
    bulk.n_stmts = n
    walls = dict.fromkeys(JellyBulk.COMMANDS, 1.0)
    assert set(bulk.metrics(spark, {"paths": paths, "walls": walls}, 1.0, 1.0)) == per_op


def _rewrite_parquet(spark, path, transform):
    """Replace the parquet dataset at ``path`` with ``transform(df)``."""
    tmp = path + ".new"
    transform(spark.read.parquet(path)).write.parquet(tmp)
    shutil.rmtree(path)
    os.rename(tmp, path)


@pytest.fixture
def kg_copy(kg_workdir, tmp_path):
    wd, n = kg_workdir
    dst = str(tmp_path / "wd")
    shutil.copytree(wd, dst)
    return dst, n


def test_kg_checks_pass_on_pipeline_output(spark, kg_workdir):
    wd, n = kg_workdir
    assert checks.check_kg_workdir(spark, wd, N_FILES, n) == []


def test_extract_check_fails_on_missing_triple(spark, kg_copy):
    from cli_spark.manifest import data_path

    wd, _ = kg_copy
    _rewrite_parquet(spark, data_path(wd, "10_extract"), lambda df: df.orderBy("subj").offset(1))
    assert "1 rows missing" in checks.check_extract(spark, wd, N_FILES)


def test_dup_pair_check_fails_on_missing_link(spark, kg_copy):
    from pyspark.sql import functions as F

    from cli_spark.manifest import data_path

    wd, _ = kg_copy
    _rewrite_parquet(
        spark, data_path(wd, "20_link"),
        lambda df: df.filter(
            ~(F.col("subj").contains("/file0.") | F.col("obj").contains("/file0."))
        ),
    )
    assert "planted pairs have no sameAs edge" in checks.check_dup_pairs(spark, wd, N_FILES)


def test_manifest_check_fails_on_wrong_count(spark, kg_copy):
    from cli_spark.manifest import manifest_path

    wd, _ = kg_copy
    path = manifest_path(wd, "30_canonicalize")
    with open(path) as fh:
        meta = json.load(fh)
    meta["row_count"] += 1
    with open(path, "w") as fh:
        json.dump(meta, fh)
    assert "30_canonicalize manifest says" in checks.check_manifests(spark, wd)


def test_frames_check_fails_on_dropped_frame(spark, kg_copy):
    from pyspark.sql import functions as F

    wd, n = kg_copy
    frames = os.path.join(wd, "40_materialize", "frames")
    last = spark.read.parquet(frames).agg(F.max("frame_index")).first()[0]
    _rewrite_parquet(spark, frames, lambda df: df.filter(F.col("frame_index") != last))
    msg = checks.check_kg_workdir(spark, wd, N_FILES, n)
    assert [m for m in msg if m.startswith("frames:")]


def test_frames_check_fails_on_wrong_returned_count(spark, kg_workdir):
    wd, n = kg_workdir
    assert "table holds" in checks.check_frames(spark, wd, n + 1)


@pytest.fixture(scope="module")
def jelly_op(spark, tmp_path_factory):
    """One jelly_bulk operation on a 10-file corpus, through the workload."""
    from perfbench.workloads import JellyBulk

    wl = JellyBulk(str(tmp_path_factory.mktemp("jelly")))
    wl.N_FILES = 10
    wl.setup(spark, 7)
    res = wl.op(spark, "t")
    return wl.src, wl.n_stmts, res["paths"], res["exit_codes"]


def test_bulk_input_has_blank_nodes_and_tagged_literals(jelly_op):
    src, n, _, _ = jelly_op
    text = open(src).read()
    assert len(text.splitlines()) == n
    assert "_:f" in text and "^^<" in text and "@en <" in text


def test_jelly_checks_pass_on_cli_output(spark, jelly_op):
    src, n, paths, codes = jelly_op
    assert codes == {"to_jelly": 0, "from_jelly": 0, "validate": 0, "transcode": 0}
    assert checks.check_jelly_op(spark, src, n, paths, codes) == []


def test_jelly_checks_flag_nonzero_exit(spark, jelly_op):
    src, n, paths, codes = jelly_op
    assert "validate exited 1" in checks.check_jelly_op(
        spark, src, n, paths, {**codes, "validate": 1}
    )


def test_roundtrip_check_fails_on_missing_statement(spark, jelly_op, tmp_path):
    src, _, paths, _ = jelly_op
    lines = []
    for name in sorted(os.listdir(paths["from_jelly"])):
        if name.startswith("part"):
            with open(os.path.join(paths["from_jelly"], name)) as fh:
                lines += fh.read().splitlines()
    broken = tmp_path / "back"
    broken.mkdir()
    (broken / "part-0.txt").write_text("\n".join(lines[1:]) + "\n")
    assert checks.check_roundtrip(spark, src, str(broken)) is not None


def test_transcode_check_fails_on_dropped_frame(spark, jelly_op, tmp_path):
    from cli_spark import jellywire as JW

    _, n, paths, _ = jelly_op
    with open(paths["transcode"], "rb") as fh:
        _, blobs = JW.split_delimited(fh.read())
    broken = tmp_path / "twice.jelly"
    broken.write_bytes(JW.write_delimited(blobs[:-1]))
    assert "expected" in checks.check_statement_count(spark, str(broken), 2 * n)

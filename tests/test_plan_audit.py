"""Automated plan audit over the whole query battery: no operator may
put a Window over an Exchange SinglePartition — the single-task global
window that serializes an entire dataset through one core (the round-1
offender pattern; every frame/rank/prefix-sum op now uses the
partition-offset primitives in cli_spark.order). A global agg's final
SinglePartition exchange is fine (partial aggregation has already
reduced the data); a WINDOW over one is never fine at scale.

The Jelly encoder is audited too: encoding a stream builds its lookup
tables inside one task per segment, so its executed plan has no join."""

from __future__ import annotations

import pytest

from cli_spark import jelly as J
from cli_spark import queries as Q
from tests.conftest import SF_ORACLE

# import side-effect registries
import cli_spark.queries  # noqa: F401


def _single_task_windows(plan: str) -> list[str]:
    """Window nodes whose immediate child is Exchange SinglePartition."""
    lines = plan.splitlines()
    hits = []
    for i, line in enumerate(lines):
        if "Window" in line and i + 1 < len(lines):
            if "SinglePartition" in lines[i + 1]:
                hits.append(line.strip()[:100])
    return hits


@pytest.mark.parametrize("name", sorted(Q.REGISTRY))
def test_no_single_task_windows(spark, name):
    df = Q.REGISTRY[name].fn(spark, SF_ORACLE)
    plan = df._jdf.queryExecution().executedPlan().toString()
    offenders = _single_task_windows(plan)
    assert not offenders, f"{name}: single-task window(s): {offenders}"


_JOINS = ("SortMergeJoin", "BroadcastHashJoin", "ShuffledHashJoin")


def test_jelly_encode_has_no_joins(spark):
    rows = [
        (f"http://ex.org/s/{i % 7}", "http://ex.org/p", f"v{i}", 2,
         "http://ex.org/g" if i % 2 else None)
        for i in range(40)
    ]
    quads = spark.createDataFrame(
        rows, "subj string, pred string, obj string, obj_kind int, graph string"
    )
    ns = spark.createDataFrame(
        [("ex", "http://ex.org/")], "name string, iri string"
    )
    streams = {
        "triples+namespaces": J.encode_triples(
            spark, quads.drop("graph"), prefix_table=True, namespaces=ns
        ),
        "quads": J.encode_quads(spark, quads, prefix_table=True),
    }
    for label, frames in streams.items():
        assert frames.count() > 0
        plan = frames._jdf.queryExecution().executedPlan().toString()
        found = [j for j in _JOINS if j in plan]
        assert not found, f"{label}: join node(s) in the encode plan: {found}"

"""Golden-bytes pins for the per-segment Jelly encoder.

Each case encodes the module's 300-statement fixture (RDF-star rows
included) and must reproduce, byte for byte, the delimited stream in
``tests/fixtures/jelly_enc_<case>.jelly``. The cases cover the prefix
table on/off, large and small name tables (small tables give
multi-segment streams whose RDF-star atoms overflow the declared bound),
namespace declarations seeding segment 0's tables for TRIPLES, QUADS and
GRAPHS, and a multi-segment stream with namespaces.

The fixtures were written before namespace declarations moved into the
per-segment encoder; the namespace cases were produced by the
Spark-join encoder that used to serve them, so these pins also hold the
single encoder to that encoder's output.
"""
from __future__ import annotations

from pathlib import Path

import pyspark.sql.functions as F
import pytest

import cli_spark.jelly as J
from cli_spark.jelly import StreamOptions

FIXTURES = Path(__file__).parent / "fixtures"

# Listed in (iri, name) order, the order the encoder emits them in; the
# Spark-join encoder that wrote the fixtures kept the input order of a
# small in-memory declaration list. Name order (ab, ex, kg, zz) still
# differs from IRI order. The ordering contract itself is pinned with
# unsorted input in test_jelly_v2::test_namespace_declarations.
NAMESPACES = [
    ("zz", "http://ex.org/a/"),
    ("ab", "http://ex.org/p/"),
    ("ex", "http://ex.org/s/"),
    ("kg", "kg:"),
]

# case → (physical, prefix_table, max_name_table, with namespaces)
CASES = {
    "triples_pfx0_n4096": ("triples", False, 4096, False),
    "triples_pfx1_n4096": ("triples", True, 4096, False),
    "triples_pfx0_n64": ("triples", False, 64, False),
    "triples_pfx1_n64": ("triples", True, 64, False),
    "triples_ns_pfx0_n4096": ("triples", False, 4096, True),
    "triples_ns_pfx1_n4096": ("triples", True, 4096, True),
    "triples_ns_pfx1_n64": ("triples", True, 64, True),
    "quads_ns_pfx1_n4096": ("quads", True, 4096, True),
    "graphs_ns_n4096": ("graphs", False, 4096, True),
}


def make_triples(spark):
    rows = []
    for i in range(300):
        rows.append((f"http://ex.org/s/{i % 97}", f"http://ex.org/p/{i % 13}",
                     f"http://ex.org/o/{i}", 0, None, None))
        rows.append((
            f"http://ex.org/s/{i % 97}", "http://ex.org/p/label",
            f"value {i}", 2,
            "http://www.w3.org/2001/XMLSchema#string" if i % 3 == 0 else None,
            "en" if i % 5 == 0 else None,
        ))
        if i % 50 == 0:
            rows.append((
                f"_:b{i}", "http://ex.org/p/star",
                f'<< <http://ex.org/s/{i}> <http://ex.org/p/1> "lit{i}" >>',
                3, None, None,
            ))
    return spark.createDataFrame(
        rows,
        "subj string, pred string, obj string, obj_kind int, "
        "obj_datatype string, obj_lang string",
    ).persist()


@pytest.fixture(scope="module")
def triples(spark):
    return make_triples(spark)


def _with_graph(triples):
    return triples.withColumn(
        "graph",
        F.when(F.col("obj_kind") == 0, F.lit("http://ex.org/g/1"))
        .otherwise(F.lit(None)),
    )


def encode_case(spark, triples, case: str):
    """The frames DataFrame of one golden case."""
    physical, prefix_table, max_name, with_ns = CASES[case]
    ns = (
        spark.createDataFrame(NAMESPACES, "name string, iri string")
        if with_ns else None
    )
    if physical == "triples":
        opts = StreamOptions(max_name_table=max_name, max_dt_table=max_name)
        return J.encode_triples(spark, triples, rows_per_frame=16, options=opts,
                                prefix_table=prefix_table, namespaces=ns)
    if physical == "quads":
        opts = StreamOptions(physical_type=J.PHYSICAL_QUADS,
                             max_name_table=max_name, max_dt_table=max_name)
        return J.encode_quads(spark, _with_graph(triples), rows_per_frame=16,
                              options=opts, prefix_table=prefix_table,
                              namespaces=ns)
    return J.encode_quads_graphs(spark, _with_graph(triples), rows_per_frame=16,
                                 max_name_table=max_name, namespaces=ns)


@pytest.mark.parametrize("case", list(CASES))
def test_golden_bytes(spark, triples, case, tmp_path):
    out = tmp_path / "out.jelly"
    J.write_jelly_file(encode_case(spark, triples, case), str(out))
    want = (FIXTURES / f"jelly_enc_{case}.jelly").read_bytes()
    assert out.read_bytes() == want


def test_fused_quads_roundtrip(spark, triples):
    quads = _with_graph(triples)
    out = J.roundtrip_quads(spark, quads, rows_per_frame=16, prefix_table=True)
    got = {(r.subj, r.pred, r.obj, r.obj_kind, r.graph) for r in out.collect()}
    want = {(r.subj, r.pred, r.obj, r.obj_kind, r.graph)
            for r in quads.dropDuplicates(
                ["subj", "pred", "obj", "obj_kind", "graph"]).collect()}
    assert got == want


def test_fused_graphs_roundtrip(spark, triples):
    quads = _with_graph(triples)
    frames = J.encode_quads_graphs(spark, quads, rows_per_frame=16)
    out = J.decode_quads_graphs(J.decode_frames(frames))
    got = {(r.subj, r.pred, r.obj, r.obj_kind, r.graph) for r in out.collect()}
    want = {(r.subj, r.pred, r.obj, r.obj_kind, r.graph)
            for r in quads.dropDuplicates(
                ["subj", "pred", "obj", "obj_kind", "graph"]).collect()}
    assert got == want

"""Output checks, run off the clock after each timed operation.

Every check returns a list of failure messages (empty = correct); a
check that raises is reported as a failure, never as a crash, so a
corrupt output always counts against the operation.
"""

from __future__ import annotations

import os
from concurrent.futures import ThreadPoolExecutor

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

KG_STAGES = ("10_extract", "20_link", "30_canonicalize")
QUAD_COLS = ["subj", "pred", "obj", "obj_kind", "graph"]


def _guarded(fn) -> str | None:
    try:
        return fn()
    except Exception as exc:  # a corrupt output may break the reader itself
        first = str(exc).splitlines()[0] if str(exc) else ""
        return f"raised {type(exc).__name__}: {first}"


def run_checks(named: dict) -> list[str]:
    """Run independent checks concurrently (each is a few small Spark
    jobs, mostly waiting on scheduling) and collect their failures in
    the order given."""
    with ThreadPoolExecutor(max_workers=len(named)) as pool:
        futures = {name: pool.submit(_guarded, fn) for name, fn in named.items()}
        results = {name: f.result() for name, f in futures.items()}
    return [f"{name}: {msg}" for name, msg in results.items() if msg]


def _multiset_diff(expected: DataFrame, actual: DataFrame) -> str | None:
    missing = expected.exceptAll(actual).count()
    extra = actual.exceptAll(expected).count()
    if missing or extra:
        return f"{missing} rows missing, {extra} rows extra"
    return None


# ------------------------------------------------------------ kg_build


def check_extract(spark: SparkSession, workdir: str, n_files: int) -> str | None:
    """The 10_extract checkpoint equals the closed-form expected triples."""
    from cli_spark.corpus import expected_triples
    from cli_spark.manifest import data_path

    cols = ["subj", "pred", "obj", "obj_kind"]
    got = spark.read.parquet(data_path(workdir, "10_extract")).select(*cols)
    return _multiset_diff(expected_triples(spark, n_files).select(*cols), got)


def check_dup_pairs(spark: SparkSession, workdir: str, n_files: int) -> str | None:
    """Every planted near-duplicate (orig, clone) file pair is linked."""
    from cli_spark.corpus import PRED_SAME_AS, expected_dup_pairs
    from cli_spark.manifest import data_path

    def idx(c: str):
        return F.regexp_extract(F.col(c), r"file(\d+)\.", 1).cast("long")

    links = spark.read.parquet(data_path(workdir, "20_link"))
    file_links = (
        (F.col("pred") == PRED_SAME_AS)
        & F.col("subj").startswith("kg:file/")
        & F.col("obj").startswith("kg:file/")
    )
    pairs = links.filter(file_links).select(
        F.least(idx("subj"), idx("obj")).alias("orig_i"),
        F.greatest(idx("subj"), idx("obj")).alias("clone_i"),
    )
    missing = expected_dup_pairs(spark, n_files).join(
        pairs, ["orig_i", "clone_i"], "left_anti"
    ).count()
    return f"{missing} planted pairs have no sameAs edge" if missing else None


def check_manifests(spark: SparkSession, workdir: str) -> str | None:
    """Each stage manifest's row_count equals its parquet row count."""
    from cli_spark.manifest import data_path, read_manifest

    bad = []
    for stage in KG_STAGES:
        declared = read_manifest(workdir, stage)["row_count"]
        actual = spark.read.parquet(data_path(workdir, stage)).count()
        if declared != actual:
            bad.append(f"{stage} manifest says {declared}, parquet has {actual}")
    return "; ".join(bad) or None


def check_frames(spark: SparkSession, workdir: str, n_triples: int) -> str | None:
    """The 40_materialize frames decode to exactly the distinct final
    graph, and the triple table holds the count the pipeline returned."""
    from cli_spark.jelly import decode_frames, decode_quads

    table = spark.read.parquet(os.path.join(workdir, "40_materialize", "data"))
    n_table = table.count()
    if n_table != n_triples:
        return f"pipeline returned {n_triples} triples, table holds {n_table}"
    frames = spark.read.parquet(os.path.join(workdir, "40_materialize", "frames"))
    decoded = decode_quads(decode_frames(frames)).select(*QUAD_COLS)
    return _multiset_diff(table.select(*QUAD_COLS).distinct(), decoded)


def check_kg_workdir(
    spark: SparkSession, workdir: str, n_files: int, n_triples: int
) -> list[str]:
    return run_checks({
        "extract": lambda: check_extract(spark, workdir, n_files),
        "dup_pairs": lambda: check_dup_pairs(spark, workdir, n_files),
        "manifests": lambda: check_manifests(spark, workdir),
        "frames": lambda: check_frames(spark, workdir, n_triples),
    })


# ---------------------------------------------------------- jelly_bulk


def comparable_terms(stmts: DataFrame) -> DataFrame:
    """Term-model statements → (graph, subj, pred, obj) strings that
    unordered_compare matches up to blank-node renaming: blank nodes
    carry the ``_:`` prefix it looks for, literals keep their datatype
    or language tag."""
    def node(c: str, kind: str):
        return F.when(F.col(kind) == 1, F.concat(F.lit("_:"), F.col(c))).otherwise(F.col(c))

    obj = (
        F.when(
            F.col("obj_kind") == 2,
            F.concat(
                F.lit('"'), F.col("obj"), F.lit('"'),
                F.coalesce(
                    F.concat(F.lit("^^"), F.col("obj_datatype")),
                    F.concat(F.lit("@"), F.col("obj_lang")),
                    F.lit(""),
                ),
            ),
        ).otherwise(node("obj", "obj_kind"))
    )
    return stmts.select(
        F.col("graph"), node("subj", "subj_kind").alias("subj"), F.col("pred"), obj.alias("obj")
    )


def check_roundtrip(spark: SparkSession, source_nq: str, output_dir: str) -> str | None:
    """from-jelly output is isomorphic to the N-Quads input. Equal
    statement multisets (blank-node labels kept) settle it cheaply;
    otherwise unordered_compare decides up to blank-node renaming."""
    from cli_spark.compare import unordered_compare
    from cli_spark.nquads import read_nquads

    expected = comparable_terms(read_nquads(spark, source_nq))
    actual = comparable_terms(read_nquads(spark, output_dir))
    if _multiset_diff(expected, actual) is None:
        return None
    res = unordered_compare(expected, actual)
    return None if res.equal else res.detail


def check_statement_count(spark: SparkSession, jelly_path: str, expected: int) -> str | None:
    """A Jelly file decodes to ``expected`` statements."""
    from cli_spark.jelly import decode_frames, decode_quads, read_jelly_file

    n = decode_quads(decode_frames(read_jelly_file(spark, jelly_path))).count()
    return None if n == expected else f"decodes to {n} statements, expected {expected}"


def check_jelly_op(
    spark: SparkSession, source_nq: str, n_stmts: int, paths: dict[str, str],
    exit_codes: dict[str, int],
) -> list[str]:
    failures = [f"{cmd} exited {rc}" for cmd, rc in exit_codes.items() if rc != 0]
    return failures + run_checks({
        "from-jelly": lambda: check_roundtrip(spark, source_nq, paths["from_jelly"]),
        "transcode": lambda: check_statement_count(spark, paths["transcode"], 2 * n_stmts),
    })

"""The benchmark's workloads.

Each workload builds its input from the seed in ``setup``, runs one
timed operation per ``op`` call, checks that operation's outputs off
the clock in ``check``, and derives its end-to-end figures in
``metrics``. ``traced_pass`` repeats one operation layer by layer: it
calls each layer's public function itself, in the order the program
does, on the previous layer's materialized output, so that each span
covers exactly one layer even where the program fuses two layers into
one Spark action.
"""

from __future__ import annotations

import contextlib
import io
import os
import random
import time

from pyspark.sql import SparkSession
from pyspark.sql import functions as F

from perfbench import checks
from perfbench.stats import median
from perfbench.tracing import Tracer

XSD_HEX = "http://www.w3.org/2001/XMLSchema#hexBinary"


def _dir_mb(path: str) -> float:
    total = 0
    for base, _, files in os.walk(path):
        total += sum(os.path.getsize(os.path.join(base, f)) for f in files)
    return total / 2**20


def _jellywire_rates(blobs: list[bytes], reps: int = 3) -> dict[str, float]:
    """Single-thread µs per row for the wire codec on real frames."""
    from cli_spark import jellywire as JW

    dec, enc = [], []
    for _ in range(reps):
        t0 = time.perf_counter()
        decoded = [JW.decode_frame(b) for b in blobs]
        t1 = time.perf_counter()
        for rows in decoded:
            JW.encode_frame(rows)
        t2 = time.perf_counter()
        dec.append(t1 - t0)
        enc.append(t2 - t1)
    n_rows = max(1, sum(len(r) for r in decoded))
    return {
        "jellywire.decode_us_per_row": median(dec) / n_rows * 1e6,
        "jellywire.encode_us_per_row": median(enc) / n_rows * 1e6,
    }


def _table_entries_per_stmt(frames) -> float:
    """Lookup-table rows (name, prefix, datatype) per statement row."""
    from cli_spark import jelly as J

    counts = {
        r["row_kind"]: r["count"]
        for r in J.decode_frames(frames).groupBy("row_kind").count().collect()
    }
    entries = sum(counts.get(k, 0) for k in (J.KIND_NAME, J.KIND_PREFIX, J.KIND_DATATYPE))
    stmts = counts.get(J.KIND_TRIPLE, 0) + counts.get(J.KIND_QUAD, 0)
    return entries / stmts if stmts else 0.0


# ------------------------------------------------------------- kg_build


class KgBuild:
    """One batch job: the full pipeline with a checkpoint workdir —
    stages, manifests, the triple table and the Jelly frames."""

    name = "kg_build"
    N_FILES = 700

    def __init__(self, root: str):
        self.root = root
        self.src = os.path.join(root, "source")

    def setup(self, spark: SparkSession, seed: int) -> dict:
        """Write the synthetic corpus as a parquet table standing in for
        the Iceberg source. The corpus itself has no seed; the seed sets
        the number of files it is laid out in and the row order in each."""
        from cli_spark.corpus import generate_repos

        n_parts = 2 + seed % 7
        (
            generate_repos(spark, self.N_FILES, partitions=n_parts)
            .sortWithinPartitions(F.rand(seed))
            .write.mode("overwrite")
            .parquet(self.src)
        )
        n_parquet = sum(f.endswith(".parquet") for f in os.listdir(self.src))
        return {"n_files": self.N_FILES, "source_files": n_parquet}

    def op(self, spark: SparkSession, tag: str, tracer: Tracer | None = None) -> dict:
        from cli_spark.pipeline import run_kg_pipeline

        workdir = os.path.join(self.root, f"op-{tag}")
        n = run_kg_pipeline(spark, spark.read.parquet(self.src), workdir=workdir)
        return {"workdir": workdir, "triples": n}

    def check(self, spark: SparkSession, res: dict) -> list[str]:
        return checks.check_kg_workdir(spark, res["workdir"], self.N_FILES, res["triples"])

    def metrics(self, spark: SparkSession, res: dict, wall_s: float, cpu_s: float) -> dict:
        """Throughput counts final triples (canonical + sameAs); frame
        bytes are per distinct statement, since the frames carry the
        distinct graph."""
        mat = os.path.join(res["workdir"], "40_materialize")
        frames = spark.read.parquet(os.path.join(mat, "frames"))
        frame_bytes = frames.agg(F.sum(F.length("frame_bytes"))).first()[0] or 0
        n_stmts = (
            spark.read.parquet(os.path.join(mat, "data"))
            .select(*checks.QUAD_COLS).distinct().count()
        )
        return {
            "stmts_per_s": res["triples"] / wall_s,
            "cpu_s_per_mstmt": cpu_s / (res["triples"] / 1e6),
            "jelly_bytes_per_stmt": frame_bytes / max(n_stmts, 1),
        }

    def traced_pass(self, spark: SparkSession, tracer: Tracer) -> dict:
        from cli_spark.canonicalize import canonical_map, rewrite_triples
        from cli_spark.extract import extract_triples
        from cli_spark.linking import link_modules_cross_lang, link_near_dup_files
        from cli_spark.manifest import stage_metrics
        from cli_spark.pipeline import (
            lineage_violations,
            materialize_jelly_frames,
            materialize_triples,
        )

        wd = os.path.join(self.root, "traced")

        def checkpoint(df, name):
            path = os.path.join(wd, name)
            df.write.mode("overwrite").parquet(path)
            return spark.read.parquet(path)

        counters: dict[str, float] = {}
        repos = spark.read.parquet(self.src).persist()
        try:
            with tracer.span("extract"):
                triples = checkpoint(extract_triples(repos), "10_extract")
            counters["extract.rows_out"] = triples.count()
            with tracer.span("manifest"):
                stage_metrics(triples, ["subj", "pred", "obj"])
            with tracer.span("linking.near_dup"):
                near_dup = checkpoint(link_near_dup_files(repos), "20_near_dup")
            with tracer.span("linking.cross_lang"):
                cross = checkpoint(link_modules_cross_lang(triples), "20_cross_lang")
            counters["linking.near_dup.links_out"] = near_dup.count()
            counters["linking.cross_lang.rows_out"] = cross.count()
            same_as = near_dup.unionByName(cross)
            with tracer.span("manifest"):
                stage_metrics(same_as, ["subj", "obj"])
            with tracer.span("canonicalize.cc"):
                mapping = checkpoint(canonical_map(same_as.select("subj", "pred", "obj")), "30_map")
            with tracer.span("canonicalize.rewrite"):
                canon = checkpoint(rewrite_triples(triples, mapping), "30_canonicalize")
            with tracer.span("manifest"):
                stage_metrics(canon, ["subj", "pred", "obj"])
            with tracer.span("pipeline.lineage"):
                violations = lineage_violations(repos, canon)
            if violations:
                raise AssertionError(f"lineage check found {violations} violations")
            final = canon.unionByName(
                same_as.select(
                    "subj", "pred", "obj", "obj_kind",
                    *[F.lit(None).cast("string").alias(c)
                      for c in ("src_repo", "src_path", "src_commit", "graph")],
                )
            )
            table = os.path.join(wd, "40_materialize", "data")
            with tracer.span("pipeline.materialize"):
                materialize_triples(final, table)
                final.count()
            counters["pipeline.materialize.written_mb"] = _dir_mb(table)
            frames_path = os.path.join(wd, "40_materialize", "frames")
            with tracer.span("jelly.encode"):
                materialize_jelly_frames(spark, final, frames_path)
        finally:
            repos.unpersist()
        return counters

    def offclock_counters(self, spark: SparkSession, res: dict) -> dict:
        """Counts that need extra jobs: LSH candidate pairs and dropped
        bucket members, frame and lookup-table counts, wire codec rates."""
        from cli_spark.linking import lsh_candidate_pairs, minhash_signatures

        wd = os.path.join(self.root, "traced")
        report: dict = {}
        sigs = minhash_signatures(spark.read.parquet(self.src), engine="arrow").withColumn(
            "fid", F.xxhash64("file_iri")
        )
        candidates = lsh_candidate_pairs(sigs, id_col="fid", report=report).count()
        links = spark.read.parquet(os.path.join(wd, "20_near_dup")).count()
        frames = spark.read.parquet(os.path.join(wd, "40_materialize", "frames"))
        blobs = [
            bytes(r["frame_bytes"])
            for r in frames.orderBy("seg", "frame_index").limit(64).collect()
        ]
        return {
            "linking.near_dup.candidate_pairs": candidates,
            "linking.near_dup.useful_ratio": links / candidates if candidates else 0.0,
            "linking.near_dup.dropped_band_members": report.get("dropped_band_members", 0),
            "jelly.encode.frames": frames.count(),
            "jelly.encode.table_entries_per_stmt": _table_entries_per_stmt(frames),
            **_jellywire_rates(blobs),
        }


# ----------------------------------------------------------- jelly_bulk


def write_bulk_nquads(spark: SparkSession, n_files: int, seed: int, path: str) -> int:
    """The corpus' expected triples as one subject-grouped N-Quads file.

    The corpus has no blank nodes and only plain literals, so the seed
    turns a share of file subjects into blank nodes (the repo's hasFile
    edge then points at the blank node too) and gives a share of the
    literals a datatype or a language tag."""
    from cli_spark.corpus import expected_triples

    rows = (
        expected_triples(spark, n_files)
        .select("subj", "pred", "obj", "obj_kind", "graph")
        .distinct()
        .collect()
    )
    rows.sort(key=lambda r: (r["subj"], r["pred"], r["obj"], r["graph"]))
    rng = random.Random(seed)
    files = sorted({r["subj"] for r in rows if r["subj"].startswith("kg:file/")})
    bnodes = {s: f"_:f{i}" for i, s in enumerate(rng.sample(files, len(files) // 10))}
    with open(path, "w") as fh:
        for r in rows:
            subj = bnodes.get(r["subj"]) or f"<{r['subj']}>"
            if r["obj_kind"] == 2:
                x = rng.random()
                suffix = f"^^<{XSD_HEX}>" if x < 0.25 else "@en" if x < 0.4 else ""
                obj = f'"{r["obj"]}"{suffix}'
            else:
                obj = bnodes.get(r["obj"]) or f"<{r['obj']}>"
            fh.write(f"{subj} <{r['pred']}> {obj} <{r['graph']}> .\n")
    return len(rows)


# the layer functions the jelly-cli commands call, by module
CLI_LAYER_CALLS = {
    "cli_spark.jelly": (
        "encode_quads", "write_jelly_file", "read_jelly_file", "decode_frames",
        "decode_quads", "peek_physical_types", "stream_physical_types",
        "transcode_frames",
    ),
    "cli_spark.nquads": ("read_nquads", "write_nquads"),
    "cli_spark.compare": ("unordered_compare", "validate_stream", "term_violations"),
}


@contextlib.contextmanager
def _layer_calls_traced(tracer: Tracer):
    """Temporarily wrap each function in CLI_LAYER_CALLS so a call from
    the CLI opens a child span of the current one. The CLI looks these
    up on their modules at call time, so the wrappers take effect
    without touching the program; the originals are restored on exit."""
    import importlib

    saved = []
    for modname, names in CLI_LAYER_CALLS.items():
        mod = importlib.import_module(modname)
        for name in names:
            fn = getattr(mod, name)

            def wrapped(*args, _fn=fn, _name=f"{modname.rsplit('.', 1)[1]}.{name}", **kw):
                with tracer.span(f"{tracer.current()}.{_name}"):
                    return _fn(*args, **kw)

            saved.append((mod, name, fn))
            setattr(mod, name, wrapped)
    try:
        yield
    finally:
        for mod, name, fn in saved:
            setattr(mod, name, fn)


def run_cli(argv: list[str]) -> int:
    """One jelly-cli command, in-process on the active session; the
    command's own stdout (e.g. ``valid``) is kept off ours."""
    from cli_spark.__main__ import main

    with contextlib.redirect_stdout(io.StringIO()):
        return main(["--quiet", *argv])


class JellyBulk:
    """One large N-Quads file through the CLI: to-jelly → from-jelly →
    validate against the source → transcode (the stream twice)."""

    name = "jelly_bulk"
    N_FILES = 700
    COMMANDS = ("to_jelly", "from_jelly", "validate", "transcode")

    def __init__(self, root: str):
        self.root = root
        self.src = os.path.join(root, "input.nq")
        self.n_stmts = 0

    def setup(self, spark: SparkSession, seed: int) -> dict:
        os.makedirs(self.root, exist_ok=True)
        self.n_stmts = write_bulk_nquads(spark, self.N_FILES, seed, self.src)
        return {"n_files": self.N_FILES, "statements": self.n_stmts}

    def _paths(self, tag: str) -> dict[str, str]:
        d = os.path.join(self.root, f"op-{tag}")
        return {
            "dir": d,
            "to_jelly": os.path.join(d, "out.jelly"),
            "from_jelly": os.path.join(d, "back"),
            "transcode": os.path.join(d, "twice.jelly"),
        }

    def argv(self, paths: dict[str, str]) -> dict[str, list[str]]:
        out = paths["to_jelly"]
        return {
            "to_jelly": ["rdf", "to-jelly", self.src, "--to", out],
            "from_jelly": ["rdf", "from-jelly", out, "--to", paths["from_jelly"]],
            "validate": ["rdf", "validate", out, "--compare-to-rdf-file", self.src],
            "transcode": ["rdf", "transcode", out, out, "--to", paths["transcode"]],
        }

    def op(self, spark: SparkSession, tag: str, tracer: Tracer | None = None) -> dict:
        """The four commands in order. With a tracer, each command gets a
        span under ``cli`` and every layer function it calls a child span,
        so a command's self time is what the CLI spends outside those
        calls (argument handling, probing, its own jobs)."""
        paths = self._paths(tag)
        os.makedirs(paths["dir"], exist_ok=True)
        walls, codes = {}, {}
        with contextlib.ExitStack() as stack:
            if tracer is not None:
                stack.enter_context(_layer_calls_traced(tracer))
                stack.enter_context(tracer.span("cli"))
            for cmd, argv in self.argv(paths).items():
                with tracer.span(f"cli.{cmd}") if tracer else contextlib.nullcontext():
                    t0 = time.perf_counter()
                    codes[cmd] = run_cli(argv)
                    walls[cmd] = time.perf_counter() - t0
                if codes[cmd] != 0:
                    break
        return {"paths": paths, "walls": walls, "exit_codes": codes}

    def check(self, spark: SparkSession, res: dict) -> list[str]:
        if len(res["exit_codes"]) < len(self.COMMANDS):
            return [f"stopped after {list(res['exit_codes'])}: non-zero exit"]
        return checks.check_jelly_op(
            spark, self.src, self.n_stmts, res["paths"], res["exit_codes"]
        )

    def metrics(self, spark: SparkSession, res: dict, wall_s: float, cpu_s: float) -> dict:
        """Statements handled: each of to-jelly, from-jelly and validate
        reads the N statements once, transcode reads them twice."""
        handled = 5 * self.n_stmts
        return {
            "stmts_per_s": handled / wall_s,
            "cpu_s_per_mstmt": cpu_s / (handled / 1e6),
            "jelly_bytes_per_stmt": os.path.getsize(res["paths"]["to_jelly"]) / self.n_stmts,
        }

    def traced_pass(self, spark: SparkSession, tracer: Tracer) -> dict:
        from cli_spark import jelly as J
        from cli_spark.compare import term_violations, unordered_compare, validate_stream
        from cli_spark.nquads import read_nquads, write_nquads

        paths = self._paths("traced")
        os.makedirs(paths["dir"], exist_ok=True)
        cached = []

        def materialize(df):
            df = df.persist()
            cached.append(df)
            df.count()
            return df

        try:
            # to-jelly
            with tracer.span("nquads.parse"):
                stmts = materialize(read_nquads(spark, self.src))
            with tracer.span("jelly.encode"):
                frames = J.encode_quads(
                    spark, stmts, options=J.StreamOptions(physical_type=J.PHYSICAL_QUADS),
                    prefix_table=True,
                )
                J.write_jelly_file(frames, paths["to_jelly"])
            # from-jelly
            with tracer.span("jelly.decode"):
                rows = materialize(J.decode_frames(J.read_jelly_file(spark, paths["to_jelly"])))
                quads = materialize(J.decode_quads(rows))
            with tracer.span("nquads.render"):
                write_nquads(quads, paths["from_jelly"])
            # validate: its own decode, stream and term checks, then the
            # comparison against the parsed source file
            with tracer.span("jelly.decode"):
                vrows = materialize(J.decode_frames(J.read_jelly_file(spark, paths["to_jelly"])))
                actual = materialize(J.decode_quads(vrows))
            with tracer.span("nquads.parse"):
                expected = materialize(read_nquads(spark, self.src))
            with tracer.span("compare"):
                problems = validate_stream(vrows)
                bad_terms = term_violations(actual).limit(3).collect()
                cols = ["subj", "pred", "obj", F.col("graph").cast("string").alias("graph")]
                res = unordered_compare(expected.select(*cols), actual.select(*cols))
            if problems or bad_terms or not res.equal:
                raise AssertionError(
                    f"validate layers disagree: {problems} {bad_terms} {res.detail}"
                )
            # transcode
            with tracer.span("jelly.transcode") as sp:
                twice = J.transcode_frames(
                    spark, [J.read_jelly_file(spark, paths["to_jelly"]) for _ in range(2)]
                )
                J.write_jelly_file(twice, paths["transcode"])
        finally:
            for df in cached:
                df.unpersist()
        return {"jelly.transcode.cores_busy": sum(sp.cpu.values()) / sp.wall_s}

    def offclock_counters(self, spark: SparkSession, res: dict) -> dict:
        """Frame and lookup-table counts and wire codec rates from the
        traced pass's file; per-command rates from the untraced reference
        operation ``res``."""
        from cli_spark import jelly as J
        from cli_spark import jellywire as JW

        reads = {"to_jelly": 1, "from_jelly": 1, "validate": 1, "transcode": 2}
        path = self._paths("traced")["to_jelly"]
        with open(path, "rb") as fh:
            _, blobs = JW.split_delimited(fh.read())
        frames = J.read_jelly_file(spark, path)
        return {
            **{
                f"cli.{cmd}.stmts_per_s": reads[cmd] * self.n_stmts / wall
                for cmd, wall in res["walls"].items()
            },
            "jelly.encode.frames": len(blobs),
            "jelly.encode.table_entries_per_stmt": _table_entries_per_stmt(frames),
            **_jellywire_rates(blobs[:64]),
        }


WORKLOADS = {w.name: w for w in (KgBuild, JellyBulk)}

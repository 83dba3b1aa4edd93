"""Run one benchmark workload and print its metrics as one JSON line.

    python3 perfbench/run.py --workload kg_build --seed 1 --seconds 10 --trace 0

Run from the repository root. The command sizes the Spark session to
the host, builds the workload's input from the seed, then runs timed
operations until ``--seconds`` have passed (at least one). No warm-up
pass runs: the first timed operation is the first in its session, as
a CLI invocation or a submitted job is. Each operation's outputs are
checked off the clock; a failed check counts as a failed operation.

``--trace 0`` prints the end-to-end metrics. ``--trace 1`` enables the
Spark event log, runs one untraced operation, then the same work layer
by layer with a span around each layer, and prints the per-layer
metrics. Spans are written to ``perfbench/.run/spans/`` at the end.
All files the run writes stay under ``perfbench/.run/``.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import subprocess
import sys
import time
import traceback
from concurrent.futures import ThreadPoolExecutor

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

from perfbench.workloads import WORKLOADS  # noqa: E402

# layers that run Spark work, each reported with the same six metrics
SPARK_LAYERS = (
    "session", "extract", "linking.near_dup", "linking.cross_lang",
    "canonicalize.cc", "canonicalize.rewrite", "manifest", "pipeline.lineage",
    "pipeline.materialize", "jelly.encode", "jelly.decode", "jelly.transcode",
    "nquads.parse", "nquads.render", "compare", "cli",
)
LAYER_METRICS = {
    "wall_s": "s", "jvm_cpu_s": "s", "py_cpu_s": "s",
    "shuffle_write_mb": "MB", "spill_mb": "MB", "task_skew": "ratio",
}
LAYER_COUNTERS = {
    "session.start_s": "s", "session.warmup_s": "s", "extract.rows_out": "count",
    "linking.near_dup.candidate_pairs": "count", "linking.near_dup.links_out": "count",
    "linking.near_dup.useful_ratio": "ratio", "linking.near_dup.dropped_band_members": "count",
    "linking.cross_lang.rows_out": "count", "canonicalize.cc.jobs": "count",
    "manifest.jobs": "count", "pipeline.materialize.written_mb": "MB",
    "jelly.encode.frames": "count", "jelly.encode.table_entries_per_stmt": "ratio",
    "jelly.transcode.cores_busy": "ratio", "jellywire.encode_us_per_row": "us/row",
    "jellywire.decode_us_per_row": "us/row", "compare.jobs": "count",
    "cli.self_s": "s", "cli.jobs_per_command": "count",
    "cli.to_jelly.stmts_per_s": "stmt/s", "cli.from_jelly.stmts_per_s": "stmt/s",
    "cli.validate.stmts_per_s": "stmt/s", "cli.transcode.stmts_per_s": "stmt/s",
    "trace.coverage": "ratio", "trace.overhead_s": "s",
}
END_TO_END = {
    "setup_s": "s", "peak_py_pss_mb": "MB", "stmts_per_s": "stmt/s",
    "cpu_s_per_mstmt": "s/Mstmt", "jelly_bytes_per_stmt": "B/stmt",
}


def per_layer_units() -> dict[str, str]:
    units = {
        f"{layer}.{m}": unit for layer in SPARK_LAYERS for m, unit in LAYER_METRICS.items()
    }
    units.update(LAYER_COUNTERS)
    return units


def host_config() -> dict:
    """Host facts the session is sized from: ``local[nproc]``, nproc
    shuffle partitions and a driver heap of a quarter of MemTotal
    (1-8 GB), passed on through the session's own environment knobs."""
    with open("/proc/meminfo") as fh:
        mem_kb = next(int(line.split()[1]) for line in fh if line.startswith("MemTotal:"))
    nproc = len(os.sched_getaffinity(0))
    return {
        "nproc": nproc,
        "mem_total_mb": mem_kb // 1024,
        "driver_mem": f"{min(8, max(1, mem_kb // 2**20 // 4))}g",
        "loadavg_start": os.getloadavg(),
    }


def configure_env(run_dir: str, host: dict) -> None:
    tmp = os.path.join(run_dir, "tmp")
    os.makedirs(tmp, exist_ok=True)
    no_perf = f"-XX:-UsePerfData -Djava.io.tmpdir={tmp}"
    os.environ.update({
        "SPARK_GRAFT_CPUS": str(host["nproc"]),
        "SPARK_GRAFT_SHUFFLE_PARTITIONS": str(host["nproc"]),
        "SPARK_GRAFT_DRIVER_MEM": host["driver_mem"],
        "SPARK_GRAFT_LOCAL_DIR": os.path.join(run_dir, "spark-local"),
        "TMPDIR": tmp,
        "PYTHONPATH": os.pathsep.join(p for p in (ROOT, os.environ.get("PYTHONPATH")) if p),
        "SPARK_SUBMIT_OPTS": f"{os.environ.get('SPARK_SUBMIT_OPTS', '')} {no_perf}".strip(),
        "SPARK_LAUNCHER_OPTS": "-XX:-UsePerfData",
    })


def stop_spark(spark) -> None:
    """Stop the session and the JVM behind it, and wait until the JVM
    and the Python workers under it have exited."""
    from pyspark import SparkContext

    from perfbench.tracing import process_tree

    descendants = set(process_tree(os.getpid())) - {os.getpid()}
    gateway = SparkContext._gateway
    spark.stop()
    if gateway is not None:
        proc = getattr(gateway, "proc", None)
        gateway.shutdown()
        if proc is not None:
            proc.stdin.close()  # the gateway JVM exits when its stdin closes
            try:
                proc.wait(timeout=60)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait()
    deadline = time.monotonic() + 30
    while descendants and time.monotonic() < deadline:
        descendants = {p for p in descendants if _alive(p)}
        time.sleep(0.1)
    for pid in descendants:
        try:
            os.kill(pid, signal.SIGKILL)
        except ProcessLookupError:
            pass


def _alive(pid: int) -> bool:
    try:
        with open(f"/proc/{pid}/stat") as fh:
            return fh.read().rsplit(")", 1)[1].split()[0] != "Z"
    except OSError:
        return False


def layer_metrics(tracer, rollup: dict, counters: dict) -> dict[str, float]:
    """Six metrics per Spark layer (zero where the workload never runs
    the layer) plus the extra counters; Spark figures are summed over
    the job groups named after the layer or its sub-spans."""
    out = {name: 0.0 for name in per_layer_units()}
    for layer in SPARK_LAYERS:
        spans = [s for s in tracer.spans if s.name == layer]
        groups = [
            g for name, g in rollup.items() if name == layer or name.startswith(layer + ".")
        ]
        out[f"{layer}.wall_s"] = sum(s.wall_s for s in spans)
        out[f"{layer}.jvm_cpu_s"] = sum(s.cpu.get("jvm", 0.0) for s in spans)
        out[f"{layer}.py_cpu_s"] = sum(s.cpu.get("py", 0.0) for s in spans)
        out[f"{layer}.shuffle_write_mb"] = sum(g["shuffle_write_bytes"] for g in groups) / 2**20
        out[f"{layer}.spill_mb"] = sum(g["spill_disk_bytes"] for g in groups) / 2**20
        out[f"{layer}.task_skew"] = max((g["task_skew"] for g in groups), default=0.0)
    for layer in ("canonicalize.cc", "manifest", "compare"):
        out[f"{layer}.jobs"] = sum(g["jobs"] for n, g in rollup.items() if n == layer)
    cli = {i for i, s in enumerate(tracer.spans) if s.name == "cli"}
    commands = [i for i, s in enumerate(tracer.spans) if s.parent in cli]
    if commands:
        cli_jobs = sum(g["jobs"] for n, g in rollup.items() if n.startswith("cli."))
        out["cli.jobs_per_command"] = cli_jobs / len(commands)
        out["cli.self_s"] = sum(tracer.self_time(i) for i in commands)
    out.update(counters)
    return out


def check_and_measure(spark, wl, op: dict) -> tuple[list[str], dict | None]:
    """An operation's check failures and its metrics, computed side by
    side (both are a few small Spark jobs over the operation's output)."""
    if op["err"]:
        return [op["err"]], None
    with ThreadPoolExecutor(max_workers=2) as pool:
        checked = pool.submit(wl.check, spark, op["res"])
        measured = pool.submit(wl.metrics, spark, op["res"], op["wall"], op["cpu"])
        problems = checked.result()
        try:
            metrics = measured.result()
        except Exception as exc:  # an output the checks reject may not measure
            problems = problems or [f"metrics raised {type(exc).__name__}: {exc}"]
            metrics = None
    return problems, metrics


def run(args) -> tuple[dict, dict]:
    """Set up, time, check and (with ``--trace 1``) trace one workload;
    returns the configuration line and the result line."""
    from perfbench.stats import median
    from perfbench.tracing import (
        PeakPss, Tracer, cpu_delta, cpu_snapshot, rollup_event_log, steal_ticks,
    )

    t_begin = time.perf_counter()
    steal0 = steal_ticks()
    host = host_config()
    run_dir = os.path.join(ROOT, "perfbench", ".run", f"{args.workload}-s{args.seed}-{os.getpid()}")
    shutil.rmtree(run_dir, ignore_errors=True)
    configure_env(run_dir, host)
    events = os.path.join(run_dir, "events")
    extra_conf = {"spark.sql.warehouse.dir": os.path.join(run_dir, "warehouse")}
    if args.trace:
        os.makedirs(events)
        extra_conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": f"file://{events}",
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false",
        })

    from cli_spark.session import get_spark, warmup_python_workers

    tracer = Tracer(trace_id=f"{args.workload}-s{args.seed}")
    counters: dict[str, float] = {}
    spark = None
    try:
        with tracer.span("session"):
            with tracer.span("session.start") as sp_start:
                spark = get_spark(f"perfbench-{args.workload}", extra_conf=extra_conf)
            tracer.spark = spark
            if args.trace:
                with tracer.span("session.warmup") as sp_warm:
                    warmup_python_workers(spark)
                counters["session.warmup_s"] = sp_warm.wall_s
        counters["session.start_s"] = sp_start.wall_s
        wl = WORKLOADS[args.workload](os.path.join(run_dir, "work"))
        with ThreadPoolExecutor(max_workers=1) as pool:
            # untraced runs warm the Python workers while the input is built,
            # as the two are independent; the traced run warms them on their
            # own above, so that the session layer's span covers only them
            warm = None if args.trace else pool.submit(warmup_python_workers, spark)
            with tracer.span("setup.input"):
                input_info = wl.setup(spark, args.seed)
            if warm is not None:
                warm.result()
        setup_s = time.perf_counter() - t_begin
        conf = spark.sparkContext.getConf()
        config = {
            **host,
            "master": spark.sparkContext.master,
            **{k: conf.get(k, None) for k in (
                "spark.driver.memory", "spark.sql.shuffle.partitions", "spark.local.dir",
            )},
            "input": input_info,
        }
        config["setup_phases_s"] = {
            s.name: round(s.wall_s, 3) for s in tracer.spans if s.name != "session"
        }

        ops = []
        with PeakPss() as pss:
            t_measure = time.perf_counter()
            while True:
                tag = str(len(ops))
                tracer.set_job_group(f"op-{tag}")
                cpu0, sampler0, t0 = cpu_snapshot(), pss.cpu_s, time.perf_counter()
                try:
                    # traced runs open the CLI's command spans here: a CLI
                    # user pays each command's own cost in a cold process
                    res, err = wl.op(spark, tag, tracer if args.trace else None), None
                except Exception:
                    res, err = None, traceback.format_exc()
                wall = time.perf_counter() - t0
                cpu = sum(cpu_delta(cpu0, cpu_snapshot()).values()) - (pss.cpu_s - sampler0)
                ops.append({"res": res, "err": err, "wall": wall, "cpu": cpu})
                if time.perf_counter() - t_measure >= args.seconds:
                    break
        tracer.set_job_group(None)

        t_checks = time.perf_counter()
        failed, per_op = 0, []
        for op in ops:  # off the clock
            problems, metrics = check_and_measure(spark, wl, op)
            if problems:
                failed += 1
                print(f"operation failed: {problems}", file=sys.stderr)
            else:
                per_op.append(metrics)
        config["op_walls_s"] = [round(op["wall"], 3) for op in ops]
        config["op_step_walls_s"] = [
            {k: round(v, 3) for k, v in (op["res"] or {}).get("walls", {}).items()} for op in ops
        ]
        config["peak_pss_mb_by_process"] = {k: round(v, 1) for k, v in pss.peak_by_class.items()}
        config["pss_sampler_cpu_s"] = round(pss.cpu_s, 3)
        config["checks_s"] = round(time.perf_counter() - t_checks, 3)

        if args.trace:
            # the traced pass runs on a warm session, so its reference is a
            # second, warm, untraced operation rather than the timed one
            t0 = time.perf_counter()
            untraced = wl.op(spark, "untraced")
            untraced_wall = time.perf_counter() - t0
            with tracer.span("traced") as sp_traced:
                counters.update(wl.traced_pass(spark, tracer))
            traced_idx = tracer.spans.index(sp_traced)
            counters["trace.coverage"] = (
                sum(s.wall_s for s in tracer.children(traced_idx)) / untraced_wall
            )
            counters["trace.overhead_s"] = sp_traced.wall_s - untraced_wall
            tracer.set_job_group("offclock")
            counters.update(wl.offclock_counters(spark, untraced))
        config["loadavg_end"] = os.getloadavg()
        steal1 = steal_ticks()
        config["cpu_steal_share"] = (steal1[0] - steal0[0]) / max(1, steal1[1] - steal0[1])
    finally:
        if spark is not None:
            stop_spark(spark)

    if args.trace:
        spans_dir = os.path.join(ROOT, "perfbench", ".run", "spans")
        os.makedirs(spans_dir, exist_ok=True)
        with open(os.path.join(spans_dir, f"{tracer.trace_id}.json"), "w") as fh:
            json.dump(tracer.to_json(), fh, indent=1)
        (log,) = [os.path.join(events, f) for f in os.listdir(events)]
        values = layer_metrics(tracer, rollup_event_log(log), counters)
        units = per_layer_units()
    else:
        values = {
            "setup_s": setup_s,
            "peak_py_pss_mb": pss.peak_python_mb,
            **{k: median([m[k] for m in per_op]) for k in END_TO_END if per_op and k in per_op[0]},
        }
        units = END_TO_END
    shutil.rmtree(run_dir, ignore_errors=True)
    return config, {
        "correct": failed == 0,
        "attempted": len(ops),
        "failed": failed,
        "metrics": {k: {"value": float(values.get(k, 0.0)), "unit": u} for k, u in units.items()},
    }


def main(argv: list[str] | None = None) -> int:
    t_start = time.perf_counter()
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=list(WORKLOADS))
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=[0, 1], default=0)
    args = p.parse_args(argv)
    if not os.path.isfile(os.path.join(ROOT, "cli_spark", "__init__.py")):
        print(f"error: no cli_spark package beside perfbench/ in {ROOT}", file=sys.stderr)
        return 2
    config, result = run(args)
    config["process_s"] = time.perf_counter() - t_start
    print(json.dumps({"config": config}))
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())

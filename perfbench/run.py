"""Benchmark entry point: one workload, one seed, one JSON result line.

    python3 perfbench/run.py --workload camera_ingest --seed 1 --seconds 30 --trace 0

Run from the root of a checkout. The untraced run (``--trace 0``) prints
the end-to-end metrics; the traced run (``--trace 1``) records spans and
Spark's per-op job record and prints the per-layer metrics. Inputs are
made and cached under ``.perfbench/`` in the checkout; every other file a
run writes goes to a per-run directory there that is removed at the end.
See perfbench/README.md.
"""

from __future__ import annotations

import argparse
import json
import os
import shlex
import shutil
import sys
import tempfile
import time
import traceback
from collections import Counter
from statistics import median
from types import SimpleNamespace

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
PKG = "gjenbruksstasjoner_kotid_estimering_spark"
WORK = os.path.join(ROOT, ".perfbench")
DRIVER_HEAP = "2g"

END_TO_END = {
    "setup_s": "s",
    "throughput_per_s": "1/s",
    "op_p50_s": "s",
    "op_p90_s": "s",
    "cpu_s_per_unit": "s",
    "peak_rss_mb": "MB",
}
PER_LAYER = {
    "session.start_s": "s",
    "jpeg.decode_s_per_frame": "s",
    "jpeg.decode_mb_per_s": "MB/s",
    "jpeg.decode_share": "ratio",
    "images.featurize_s_per_frame": "s",
    "images.python_edge_s_per_frame": "s",
    "images.scan_mb": "MB",
    "models.fit_s": "s",
    "models.score_s": "s",
    "estimator.estimate_s": "s",
    "merge_tx.merge_s": "s",
    "merge_tx.snapshot_read_s": "s",
    "merge_tx.compact_s": "s",
    "merge_tx.table_files": "count",
    "merge_tx.write_amp": "ratio",
    "merge_tx.space_amp": "ratio",
    "merge_tx.retries": "count",
    "plans.build_s": "s",
    "plans.execute_s": "s",
    "spark.driver_s": "s",
    "spark.jobs": "count",
    "spark.stages": "count",
    "spark.tasks": "count",
    "spark.executor_cpu_s": "s",
    "spark.executor_run_s": "s",
    "spark.shuffle_read_mb": "MB",
    "spark.shuffle_write_mb": "MB",
    "spark.input_mb": "MB",
    "spark.output_mb": "MB",
    "spark.spill_mb": "MB",
    "spark.jvm_gc_s": "s",
    "trace.throughput_per_s": "1/s",
    "trace.op_p50_s": "s",
}
# The spark.* per-op medians, from the status-store aggregate of each op.
_SPARK_FIELDS = {
    "spark.jobs": ("jobs", 1),
    "spark.stages": ("stages", 1),
    "spark.tasks": ("tasks", 1),
    "spark.executor_cpu_s": ("cpu_s", 1),
    "spark.executor_run_s": ("run_s", 1),
    "spark.shuffle_read_mb": ("shuffle_read_bytes", 1e-6),
    "spark.shuffle_write_mb": ("shuffle_write_bytes", 1e-6),
    "spark.input_mb": ("input_bytes", 1e-6),
    "spark.output_mb": ("output_bytes", 1e-6),
    "spark.spill_mb": ("spill_bytes", 1e-6),
    "spark.jvm_gc_s": ("gc_s", 1),
}


def _configure(run_dir: str, cores: int) -> None:
    """Point every scratch path of Python, Spark and the JVM into the
    run directory, before pyspark starts."""
    tmp = os.path.join(run_dir, "tmp")
    os.makedirs(tmp)
    os.environ["TMPDIR"] = tmp
    tempfile.tempdir = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(run_dir, "local")
    os.environ["SPARK_GRAFT_WAREHOUSE"] = os.path.join(run_dir, "warehouse")
    os.environ["SPARK_GRAFT_CPUS"] = str(cores)
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = DRIVER_HEAP
    os.environ["PYTHONPATH"] = os.pathsep.join(
        [ROOT, HERE] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]
    )
    confs = {
        # A heap committed and touched up front keeps the JVM's resident
        # size from depending on when the GC chose to grow the heap.
        "spark.driver.extraJavaOptions": (
            f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
            f" -Xms{DRIVER_HEAP} -XX:+AlwaysPreTouch"
        ),
        "spark.ui.showConsoleProgress": "false",
        # keep every job and stage of a run for the per-op record
        "spark.ui.retainedJobs": "100000",
        "spark.ui.retainedStages": "100000",
        "spark.sql.ui.retainedExecutions": "100",
    }
    os.environ["PYSPARK_SUBMIT_ARGS"] = " ".join(
        f"--conf {shlex.quote(f'{k}={v}')}" for k, v in confs.items()
    ) + " pyspark-shell"


def _shutdown(spark, procstat) -> None:
    """Stop Spark, end the JVM and wait until it and its Python workers
    have exited."""
    from pyspark import SparkContext

    me = os.getpid()
    children = [p for p in procstat.process_tree(me) if p != me]
    gateway = SparkContext._gateway
    spark.stop()
    proc = getattr(gateway, "proc", None)
    if gateway is not None:
        gateway.shutdown()
    if proc is not None:
        proc.stdin.close()  # the gateway JVM exits on EOF
        try:
            proc.wait(timeout=60)
        except Exception:  # noqa: BLE001
            proc.kill()
            proc.wait()
    deadline = time.time() + 30
    while time.time() < deadline:
        alive = [p for p in children if os.path.exists(f"/proc/{p}")]
        if not alive:
            return
        time.sleep(0.1)
    for p in alive:
        try:
            os.kill(p, 9)
        except OSError:
            pass


def _spark_layers(tracing, spans, jobs, stages) -> tuple[dict, dict, dict]:
    by_op = tracing.aggregate_by_group(jobs, stages, "op")
    by_layer = tracing.aggregate_by_group(jobs, stages, "layer")
    per_op = {k: [] for k in _SPARK_FIELDS} | {"spark.driver_s": []}
    for s in spans:
        if s["name"] != "op":
            continue
        agg = by_op.get(s["op_id"])
        if agg is None:
            agg = {"jobs": 0, "stages": 0, "intervals": []} | {
                f: 0 for f, _ in _SPARK_FIELDS.values()
            }
        for name, (field, scale) in _SPARK_FIELDS.items():
            per_op[name].append(agg[field] * scale)
        inside = [
            (max(a, s["start"]), min(b, s["end"]))
            for a, b in agg["intervals"] if b > s["start"] and a < s["end"]
        ]
        per_op["spark.driver_s"].append(
            (s["end"] - s["start"]) - tracing.union_length(inside)
        )
    return {k: median(v) if v else 0.0 for k, v in per_op.items()}, by_op, by_layer


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    if not os.path.isdir(os.path.join(ROOT, PKG)):
        print(f"perfbench: {PKG}/ not found in {ROOT}; run from a checkout",
              file=sys.stderr)
        return 2
    cores = len(os.sched_getaffinity(0))
    run_dir = os.path.join(WORK, f"run-{os.getpid()}")
    shutil.rmtree(run_dir, ignore_errors=True)
    _configure(run_dir, cores)
    sys.path[:0] = [ROOT, HERE]

    import procstat
    import tracing
    import workloads
    from gjenbruksstasjoner_kotid_estimering_spark import benchwarm
    from gjenbruksstasjoner_kotid_estimering_spark.session import get_spark

    if args.workload not in workloads.WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}; "
              f"known: {sorted(workloads.WORKLOADS)}", file=sys.stderr)
        shutil.rmtree(run_dir, ignore_errors=True)
        return 2
    traced = bool(args.trace)
    ctx = SimpleNamespace(
        seed=args.seed, cores=cores, traced=traced, run_dir=run_dir,
        inputs_dir=os.path.join(WORK, "inputs"), spark=None, tracer=None,
    )
    wl = workloads.WORKLOADS[args.workload](ctx, args.seconds)
    phases = {}
    spark = None
    try:
        t_phase = time.perf_counter()
        wl.prepare()  # input generation: never timed
        phases["prepare"] = time.perf_counter() - t_phase
        t0 = time.perf_counter()
        spark = get_spark("perfbench", master=f"local[{cores}]")
        session_s = time.perf_counter() - t0
        ctx.spark = spark
        ctx.tracer = tracing.Tracer(spark.sparkContext, enabled=traced)
        setup_parts = wl.setup()
        setup_s = session_s + sum(setup_parts.values())
        ctx.tracer.spans.clear()

        watch = procstat.TreeWatch(os.getpid())
        latencies, failures, units = [], Counter(), 0
        ticks0 = benchwarm.cpu_ticks()
        watch.start()
        for i, op in enumerate(wl.ops):
            t_op = time.perf_counter()
            try:
                with ctx.tracer.op(f"op{i:04d}"):
                    units += wl.run_op(op)
                latencies.append(time.perf_counter() - t_op)
            except Exception as exc:  # noqa: BLE001 — count it, keep going
                failures[type(exc).__name__] += 1
                print(f"perfbench: op {i} failed: {type(exc).__name__}: {exc}",
                      file=sys.stderr)
            watch.observe()
        cpu_s = watch.cpu_since_start()
        steal = benchwarm.steal_stats(ticks0, benchwarm.cpu_ticks())
        busy_s = sum(latencies)
        t_phase = time.perf_counter()
        problems = wl.check()
        phases["check"] = time.perf_counter() - t_phase
        watch.observe()

        tail = procstat.tail_percentile(latencies)
        p90, p90_beyond = procstat.nearest_rank(latencies, 90) if latencies else (0.0, 0)
        e2e = {
            "setup_s": setup_s,
            "throughput_per_s": units / busy_s if busy_s else 0.0,
            "op_p50_s": median(latencies) if latencies else 0.0,
            "op_p90_s": p90,
            "cpu_s_per_unit": cpu_s / units if units else 0.0,
            "peak_rss_mb": watch.peak_mb(),
        }
        record = {
            "workload": wl.name, "seed": args.seed, "trace": args.trace,
            "cores": cores, "unit": wl.unit, "ops": len(wl.ops), "units": units,
            "op_tail": {"samples": len(latencies), "p90_beyond": p90_beyond,
                        "ten_beyond": tail},
            "host.steal_of_busy": steal["steal_of_busy"] if steal else None,
            "setup_parts": {"session.start_s": session_s, **setup_parts},
            "phases_s": phases,
            "failures": dict(failures),
            "op_latencies_s": latencies,
            "problems": problems,
            **wl.context(),
            "end_to_end": e2e,
        }
        if traced:
            jobs, stages = tracing.read_status_store(spark.sparkContext)
            spark_layer, by_op, by_layer = _spark_layers(
                tracing, ctx.tracer.spans, jobs, stages
            )
            layers = {name: 0.0 for name in PER_LAYER}
            layers.update(spark_layer)
            layers.update(wl.layers(ctx.tracer.spans, by_op, by_layer))
            layers["session.start_s"] = session_s
            layers["trace.throughput_per_s"] = e2e["throughput_per_s"]
            layers["trace.op_p50_s"] = e2e["op_p50_s"]
            record["per_layer"] = layers
            record["spans"] = ctx.tracer.spans
            record["self_s"] = tracing.self_times(ctx.tracer.spans)
            record["tracing_overhead"] = _overhead(wl.name, args.seed, e2e)
    finally:
        t_phase = time.perf_counter()
        if spark is not None:
            _shutdown(spark, procstat)
        shutil.rmtree(run_dir, ignore_errors=True)
        phases["shutdown"] = time.perf_counter() - t_phase

    out_dir = os.path.join(WORK, "out")
    os.makedirs(out_dir, exist_ok=True)
    path = os.path.join(out_dir, f"{wl.name}-seed{args.seed}-trace{args.trace}.json")
    with open(path, "w") as fh:
        json.dump(record, fh, indent=1, default=str)
    summary = {k: v for k, v in record.items() if k not in ("spans", "self_s")}
    print(json.dumps({"record": path, **summary}, default=str))
    metrics = record["per_layer"] if traced else e2e
    units_of = PER_LAYER if traced else END_TO_END
    print(json.dumps({
        "correct": not problems,
        "attempted": len(wl.ops),
        "failed": sum(failures.values()),
        "metrics": {k: {"value": metrics[k], "unit": units_of[k]} for k in units_of},
    }))
    return 0


def _overhead(workload: str, seed: int, traced: dict) -> dict | None:
    """Traced-run e2e numbers relative to the untraced run of the same
    workload and seed, when one has been recorded in this checkout."""
    path = os.path.join(WORK, "out", f"{workload}-seed{seed}-trace0.json")
    if not os.path.exists(path):
        return None
    with open(path) as fh:
        base = json.load(fh)["end_to_end"]
    return {
        k: traced[k] / base[k] - 1.0
        for k in ("throughput_per_s", "op_p50_s", "cpu_s_per_unit")
        if base.get(k)
    }


if __name__ == "__main__":
    try:
        sys.exit(main())
    except SystemExit:
        raise
    except BaseException:  # noqa: BLE001 — no result line on a crash
        traceback.print_exc()
        sys.exit(1)

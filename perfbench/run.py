"""End-to-end and per-layer benchmark of the spark-graft engine.

Usage (from the root of a checkout):

    python3 perfbench/run.py --workload olap_warm --seed 1 --seconds 18 --trace 0

Starts the engine's session on ``local[4]``, copies the engine's
seed-42 test tables (``perfbench/data/``) into a work dir, runs the
workload's closed loop for about ``--seconds`` and checks the results.
``--seed`` picks query order and every batch. The last line of stdout
is one JSON object ``{"correct", "attempted", "failed", "metrics"}``; with
``--trace 0`` the metrics are the end-to-end ones, with ``--trace 1``
the per-layer ones (see README.md). Everything the run writes lives
under ``.perfbench_work/`` (removed at exit) and, for traced runs, the
span dump under ``.perfbench_out/``.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import statistics
import sys
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)

CPUS = 4
DRIVER_MEM = "2g"
# The engine's seed-42 test tables: all ten at sf0.01 (60,000 lineitem
# rows, the engine's overhead floor) and the sf0.1 embeddings (2,000
# vectors, the ANN index's corpus)
DATA_DIR = os.path.join(HERE, "data")

END_TO_END = {
    "setup_s": "s",
    "pass_s": "s",
    "latency_p50_s": "s",
    "latency_tail_s": "s",
    "peak_rss_mb": "MB",
}

PER_LAYER = {
    "session.start_s": "s",
    "builder.s": "s",
    "builder.py4j_calls": "count",
    "catalyst.analysis_s": "s",
    "catalyst.optimization_s": "s",
    "catalyst.planning_s": "s",
    "staging.writes": "count",
    "staging.hits": "count",
    "staging.hit_ratio": "ratio",
    "staging.write_s": "s",
    "staging.mb": "MB",
    "spark.jobs": "count",
    "spark.stages": "count",
    "spark.tasks": "count",
    "spark.task_s": "s",
    "spark.task_cpu_s": "s",
    "spark.gc_s": "s",
    "spark.shuffle_read_mb": "MB",
    "spark.shuffle_write_mb": "MB",
    "spark.spill_mb": "MB",
    "spark.input_mb": "MB",
    "spark.job_busy_s": "s",
    "arrow.py_run_s": "s",
    "arrow.py_start_s": "s",
    "arrow.sent_mb": "MB",
    "arrow.returned_mb": "MB",
    "driver.idle_s": "s",
    "driver.jvm_gc_s": "s",
    "txlog.create_s": "s",
    "txlog.upsert_s": "s",
    "txlog.read_s": "s",
    "txlog.changes_s": "s",
    "txlog.compact_s": "s",
    "txlog.versions": "count",
    "txlog.live_files": "count",
    "txlog.data_mb": "MB",
    "txlog.log_kb": "KB",
    "ann.build_s": "s",
    "ann.append_s": "s",
    "ann.probe_s": "s",
    "ann.recompact_s": "s",
    "ann.index_mb": "MB",
    "ann.recall_at_k": "ratio",
    "ingest.build_s": "s",
    "ingest.stored_bytes_ratio": "ratio",
    "self.bench_s": "s",
    "self.query_s": "s",
    "self.builder_s": "s",
    "self.spark_s": "s",
    "self.txlog_s": "s",
    "self.ann_s": "s",
    "latency.tail_q": "ratio",
    "latency.samples": "count",
    "host.steal_s": "s",
    "host.loadavg": "load",
    "trace.overhead_s": "s",
    "trace.spans": "count",
}

# Per-layer figures that are totals of a run; everything else the
# traced run sums is reported per pass.
_PER_RUN = {
    "session.start_s", "staging.mb", "staging.hit_ratio", "latency.tail_q",
    "latency.samples", "host.loadavg", "trace.spans",
}


def tail(values: list[float]) -> tuple[float, float]:
    """The highest percentile (in 5-point steps, nearest rank) with at
    least ten samples beyond it; the median when no percentile above it
    qualifies. Returns (value, quantile)."""
    ordered = sorted(values)
    n = len(ordered)
    for pct in range(95, 50, -5):
        rank = -(-pct * n // 100)  # ceil(pct% of n)
        if n - rank >= 10:
            return ordered[rank - 1], pct / 100
    return statistics.median(ordered), 0.5


def _hermetic_env(work: str) -> None:
    """Point every temporary location of Python, Spark and the engine
    into ``work``, and size the session for a 4-core, 15 GiB machine."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ.update({
        "SPARK_LOCAL_IP": "127.0.0.1",
        "SPARK_GRAFT_CPUS": str(CPUS),
        "SPARK_GRAFT_DRIVER_MEM": DRIVER_MEM,
        "SPARK_GRAFT_STAGING_DIR": os.path.join(work, "stage"),
        "SPARK_LOCAL_DIRS": os.path.join(work, "spark-local"),
        "TMPDIR": tmp,
    })
    import tempfile

    tempfile.tempdir = tmp


def _start_session(work: str, java_options: str):
    from mapreduceapp_spark.session import get_spark

    spark = get_spark(
        app_name="perfbench",
        master=f"local[{CPUS}]",
        shuffle_partitions=CPUS,
        extra_conf={
            "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
            # the heap is committed and touched up front, so peak RSS
            # tracks off-heap, metaspace and Python-worker memory
            # rather than when the collector chose to grow the heap
            "spark.driver.extraJavaOptions": (
                f"-Djava.io.tmpdir={os.path.join(work, 'tmp')}"
                f" -Xms{DRIVER_MEM} -XX:+AlwaysPreTouch {java_options}"
            ),
            # keep every job, stage and SQL execution of the run in the
            # status stores the traced run reads
            "spark.ui.retainedJobs": "100000",
            "spark.ui.retainedStages": "100000",
            "spark.sql.ui.retainedExecutions": "100000",
        },
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def _shutdown(spark) -> None:
    """Stop the session and the JVM, and wait for every process the
    run started (the JVM and its Python workers) to end."""
    from pyspark import SparkContext

    from tracing import descendants

    kids = descendants(os.getpid())
    gateway = SparkContext._gateway
    spark.stop()
    if gateway is not None:
        proc = getattr(gateway, "proc", None)
        gateway.shutdown()
        SparkContext._gateway = None
        SparkContext._jvm = None
        if proc is not None:
            proc.stdin.close()  # the JVM exits on EOF of its stdin
            try:
                proc.wait(timeout=60)
            except Exception:
                proc.kill()
                proc.wait(timeout=30)
    deadline = time.time() + 30
    while time.time() < deadline:
        alive = [p for p in kids if os.path.exists(f"/proc/{p}")]
        if not alive:
            return
        time.sleep(0.1)
    for p in alive:
        try:
            os.kill(p, 9)
        except ProcessLookupError:
            pass


def run_workload(name: str, seed: int, seconds: float, traced: bool, work: str) -> dict:
    from tracing import LayerProbe, Py4jCounter, Tracer, process_tree_hwm_mb
    from workloads import WORKLOADS, Run

    workload = WORKLOADS[name]()
    t = time.perf_counter()
    spark = _start_session(work, workload.java_options)
    session_s = time.perf_counter() - t
    try:
        # inputs are copied into the work dir, so nothing the engine
        # writes beside its inputs lands in the checkout
        t = time.perf_counter()
        inputs = os.path.join(work, "input")
        shutil.copytree(DATA_DIR, inputs)
        tracer = Tracer(traced, f"{name}-{seed}-{os.getpid()}")
        run = Run(
            spark, os.path.join(inputs, "sf0.01"), os.path.join(inputs, "sf0.1"),
            work, seed, tracer, Py4jCounter(spark) if traced else None,
        )
        workload.prepare(run, seconds)
        prepare_s = time.perf_counter() - t
        setup_s = session_s + prepare_s

        from mapreduceapp_spark.plans.staging import staging_root

        probe = LayerProbe(spark, staging_root()) if traced else None
        before = probe.snapshot() if traced else None
        passes: list[float] = []
        latencies: list[float] = []
        t_loop = time.perf_counter()
        for i in range(workload.passes(seconds)):
            t = time.perf_counter()
            with tracer.span(f"pass {i}", "bench"):
                latencies += workload.run_pass(run, i)
            passes.append(time.perf_counter() - t)
        loop_s = time.perf_counter() - t_loop
        layer = probe.delta(before) if traced else {}
        t = time.perf_counter()
        workload.verify(run)
        verify_s = time.perf_counter() - t
        peak_rss = process_tree_hwm_mb(os.getpid())
    finally:
        t = time.perf_counter()
        _shutdown(spark)
        shutdown_s = time.perf_counter() - t

    tail_s, tail_q = tail(latencies)
    print(
        f"perfbench: {name} seed={seed} passes={[round(p, 2) for p in passes]} ops={len(latencies)} "
        f"tail=p{round(tail_q * 100)} failures={run.failures} | session {session_s:.1f} s, "
        f"prepare {prepare_s:.1f} s, loop {loop_s:.1f} s, "
        f"verify {verify_s:.1f} s, shutdown {shutdown_s:.1f} s {workload.summary()}",
        file=sys.stderr,
    )
    if not traced:
        metrics = {
            "setup_s": setup_s,
            "pass_s": statistics.median(passes),
            "latency_p50_s": statistics.median(latencies),
            "latency_tail_s": tail_s,
            "peak_rss_mb": peak_rss,
        }
        units = END_TO_END
    else:
        for k, v in run.layer.items():
            layer[k] = layer.get(k, 0.0) + v
        for layer_name, s in tracer.self_time_by_layer().items():
            layer[f"self.{layer_name}_s"] = s
        layer["trace.overhead_s"] = tracer.overhead_s
        n = len(passes)
        layer = {k: (v if k in _PER_RUN else v / n) for k, v in layer.items()}
        layer.update(workload.layer_metrics(run))
        layer.update({
            "session.start_s": session_s,
            "latency.tail_q": tail_q,
            "latency.samples": float(len(latencies)),
            "host.loadavg": os.getloadavg()[0],
            "trace.spans": float(len(tracer.spans)),
        })
        tracer.dump(os.path.join(ROOT, ".perfbench_out", f"spans-{name}-{seed}.jsonl"))
        metrics = {k: layer.get(k, 0.0) for k in PER_LAYER}
        units = PER_LAYER
    return {
        "correct": run.failed == 0,
        "attempted": run.attempted,
        "failed": run.failed,
        "metrics": {k: {"value": float(v), "unit": units[k]} for k, v in metrics.items()},
    }


def main(argv: list[str] | None = None) -> int:
    from workloads import WORKLOADS

    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    # a terminated run still stops its JVM and removes its work dir
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))

    if not os.path.isfile(os.path.join(ROOT, "mapreduceapp_spark", "__init__.py")):
        print(
            f"perfbench: no mapreduceapp_spark/ package in {ROOT}; "
            "run from the root of a checkout of the engine",
            file=sys.stderr,
        )
        return 2
    sys.path.insert(0, ROOT)
    work = os.path.join(ROOT, ".perfbench_work", f"{args.workload}-{args.seed}-{os.getpid()}")
    _hermetic_env(work)
    print(json.dumps({
        "workload": args.workload, "seed": args.seed, "seconds": args.seconds,
        "trace": args.trace, "SPARK_GRAFT_CPUS": CPUS, "SPARK_GRAFT_DRIVER_MEM": DRIVER_MEM,
    }), flush=True)
    try:
        result = run_workload(args.workload, args.seed, args.seconds, bool(args.trace), work)
    except Exception:
        traceback.print_exc()
        return 1
    finally:
        shutil.rmtree(work, ignore_errors=True)
    print(json.dumps(result), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())

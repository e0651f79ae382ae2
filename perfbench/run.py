"""Run one benchmark workload against the engine and print its metrics.

    python3 perfbench/run.py --workload corpus_ops --seed 1 --seconds 10 --trace 0

Generates the workload's inputs from ``--seed`` (numpy/pyarrow, no
engine), builds a session, scans the inputs once, runs untimed warm-up
passes, then timed passes until ``--seconds`` have gone by, and checks
every pass's outputs. ``--trace 0`` prints the end-to-end
metrics, ``--trace 1`` runs traced passes instead and prints the
per-layer metrics. The last line of standard output is the result
object; the line before it describes the run (passes, pinned cores and
heap, load, CPU steal). See README.md.
"""

import time

T_START = time.time()

import argparse  # noqa: E402
import gc  # noqa: E402
import inspect  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import resource  # noqa: E402
import shutil  # noqa: E402
import statistics  # noqa: E402
import sys  # noqa: E402
import traceback  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
#: Each workload runs these parts (see workloads.py) in this order.
WORKLOADS = {
    "corpus_ops": ("dedup_batch", "ann_topk"),
    "data_path": ("pipe_job", "ingest_stream"),
}
#: Untimed passes before timing. data_path's pass keeps getting faster
#: for three passes (12.8, 11.4, 10.3, 10.8, 9.5 s in one 4-core run), so
#: one warm-up left its timed pass on the steep part of that curve and
#: its spread over seeds at 0.32 of the median.
WARMUP_PASSES = {"corpus_ops": 1, "data_path": 2}
#: Pinned so that runs do not depend on the host's state at start.
CORES = min(4, len(os.sched_getaffinity(0)))
HEAP = "2g"
#: No pass starts after this many seconds of the process (it must end
#: within 180 s).
LAST_PASS_START_S = 120

END_TO_END = {
    "setup_s": "s",
    "pass_s": "s",
    "rows_per_s": "rows/s",
    "driver_rss_mb": "MB",
}
#: Per-layer metrics and their units. A traced run of any workload
#: prints all of them; layers the workload does not reach read 0.
PER_LAYER = {
    "engine.session_s": "s",
    "sources.first_scan_s": "s",
    "cache.blocks_left": "count",
    "engine.heap_peak_mb": "MB",
    "spark.jobs": "count",
    "spark.tasks": "count",
    "spark.shuffle_write_mb": "MB",
    "spark.shuffle_read_mb": "MB",
    "spark.spill_mb": "MB",
    "host.cpu_steal_pct": "%",
    "text.winnowing_rows_s": "s",
    "text.overlap_pairs_s": "s",
    "dedup.minhash_s": "s",
    "dedup.lsh_candidates": "count",
    "dedup.lsh_verified": "count",
    "dedup.lsh_precision": "ratio",
    "dedup.cc_s": "s",
    "dedup.cc_edges": "count",
    "sinks.write_parquet_s": "s",
    "similarity.ivf_build_s": "s",
    "similarity.ivf_probe_s": "s",
    "similarity.pq_build_s": "s",
    "similarity.pq_probe_s": "s",
    "similarity.exact_topk_s": "s",
    "similarity.ivf_recall": "ratio",
    "similarity.pq_recall": "ratio",
    "delivery.read_records_s": "s",
    "sharding.epoch_replay_s": "s",
    "pipe.pipe_lines_s": "s",
    "sinks.write_gzip_text_s": "s",
    "pipe.children": "count",
    "job.overhead_s": "s",
    "streaming.batches": "count",
    "streaming.batch_s": "s",
    "streaming.add_batch_s": "s",
    "streaming.bookkeeping_s": "s",
    "streaming.compact_s": "s",
    "trace.pass_s": "s",
}


def parse_args(argv=None):
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return ap.parse_args(argv)


def pin_and_reexec(work: str) -> None:
    """Re-execute this process (same pid) with the pinned environment:
    hash seed, core count, heap, and fresh local and temp dirs inside
    the run's work directory."""
    shutil.rmtree(work, ignore_errors=True)
    for sub in ("local", "tmp"):
        os.makedirs(os.path.join(work, sub))
    env = dict(
        os.environ,
        PYTHONHASHSEED="0",
        SPARK_GRAFT_CPUS=str(CORES),
        SPARK_GRAFT_DRIVER_MEM=HEAP,
        SPARK_LOCAL_DIRS=os.path.join(work, "local"),
        TMPDIR=os.path.join(work, "tmp"),
        # Every JVM of the run, the spark-submit launcher included, keeps
        # its temp files in the work directory.
        JAVA_TOOL_OPTIONS=f"-XX:-UsePerfData -Djava.io.tmpdir={os.path.join(work, 'tmp')}",
        PERFBENCH_T0=repr(T_START),
    )
    os.execve(sys.executable, [sys.executable, os.path.abspath(__file__), *sys.argv[1:]], env)


def stop_session(spark) -> None:
    """Stop the session and the JVM behind it, and wait for the JVM (it
    exits when its stdin closes, taking Spark's Python workers along)."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is None:
        return
    proc = gateway.proc
    gateway.shutdown()
    proc.stdin.close()
    try:
        proc.wait(timeout=60)
    except Exception:
        proc.kill()
        proc.wait()


def bench(args, work: str, t0: float, loadavg_start: list) -> tuple[dict, dict]:
    import gen

    gen_dir = os.path.join(work, "gen")
    g0 = time.time()
    parts = WORKLOADS[args.workload]
    refs = [gen.generate(p, args.seed, os.path.join(gen_dir, p)) for p in parts]
    gen_s = time.time() - g0

    import spans
    import workloads
    from xlearning_spark.engine import build_session

    extra = {"spark.sql.warehouse.dir": os.path.join(work, "warehouse")}
    event_dir = None
    if args.trace:
        event_dir = os.path.join(work, "events")
        extra["spark.eventLog.compress"] = "false"
    s0 = time.time()
    spark = build_session(f"perfbench-{args.workload}", extra_conf=extra, event_log_dir=event_dir)
    session_s = time.time() - s0
    wl = workloads.Workload(
        [workloads.PARTS[p](ref, os.path.join(gen_dir, p)) for p, ref in zip(parts, refs)]
    )
    f0 = time.time()
    wl.first_scan(spark)
    first_scan_s = time.time() - f0
    setup_s = time.time() - t0 - gen_s

    problems: list[str] = []
    times: list[float] = []
    layer_values: dict[str, list[float]] = {}
    passes = failed = 0
    tracer = spans.Tracer(spark) if args.trace else None
    try:
        # Untimed warm-up passes; the first also makes the costlier checks.
        w0 = time.time()
        for i in range(WARMUP_PASSES[args.workload]):
            pass_dir = os.path.join(work, "passes", f"warmup-{i}")
            workloads.link_tree(gen_dir, pass_dir)
            problems += wl.run(spark, pass_dir, full_check=i == 0)()
            shutil.rmtree(pass_dir)
        warmup_s = time.time() - w0
        cpu0 = spans.cpu_times()
        m0 = time.time()
        while True:
            pass_dir = os.path.join(work, "passes", f"pass-{passes}")
            workloads.link_tree(gen_dir, pass_dir)
            passes += 1
            # Start every pass from a collected heap on both sides, so the
            # warm-up's garbage is not charged to whichever pass meets it.
            gc.collect()
            spark.sparkContext._jvm.System.gc()
            try:
                if tracer is None:
                    p0 = time.time()
                    check = wl.run(spark, pass_dir, full_check=False)
                    times.append(time.time() - p0)
                else:
                    spans.reset_heap_peak(spark)
                    blocks0 = spans.persistent_rdds(spark)
                    p0 = time.time()
                    values, check = wl.traced(spark, pass_dir, tracer)
                    values["trace.pass_s"] = time.time() - p0
                    values["cache.blocks_left"] = spans.persistent_rdds(spark) - blocks0
                    values["engine.heap_peak_mb"] = spans.heap_peak_mb(spark)
                    for name, v in values.items():
                        layer_values.setdefault(name, []).append(v)
                problems += check()
            except Exception:
                traceback.print_exc()
                failed += 1
            shutil.rmtree(pass_dir)
            now = time.time()
            if now - m0 >= args.seconds or now - t0 >= LAST_PASS_START_S:
                break
        steal = spans.steal_pct(cpu0, spans.cpu_times())
        rss_mb = resource.getrusage(resource.RUSAGE_SELF).ru_maxrss / 1024
    finally:
        stop_session(spark)

    info = {
        "workload": args.workload,
        "seed": args.seed,
        "trace": args.trace,
        "warmup_s": warmup_s,
        "passes": passes,
        "failed_passes": failed,
        "micro_batches": passes * wl.micro_batches,
        "cores": CORES,
        "heap": HEAP,
        "loadavg_start": loadavg_start,
        "host.cpu_steal_pct": round(steal, 3),
        "gen_s": gen_s,
        "session_s": session_s,
        "first_scan_s": first_scan_s,
        "pass_times_s": times,
        "problems": problems[:10],
    }
    if tracer is None:
        metrics = {
            "setup_s": setup_s,
            "pass_s": statistics.median(times) if times else 0.0,
            "rows_per_s": wl.rows_per_pass * len(times) / sum(times) if times else 0.0,
            "driver_rss_mb": rss_mb,
        }
        units = END_TO_END
    else:
        counters = tracer.spark_counters(event_dir)
        n_traced = max(1, passes - failed)
        flat = {name: statistics.median(v) for name, v in layer_values.items()}
        for name in PER_LAYER:
            if name.endswith("_s") and tracer.seconds(name):
                flat[name] = statistics.median(tracer.seconds(name))
        flat.update({k: v / n_traced for k, v in counters.items()})
        flat["engine.session_s"] = session_s
        flat["sources.first_scan_s"] = first_scan_s
        flat["host.cpu_steal_pct"] = steal
        if "dedup.cc_edges" in flat:
            from xlearning_spark.operators.dedup import connected_components

            cap = inspect.signature(connected_components).parameters["driver_edge_limit"].default
            info["cc_driver_edge_limit"] = cap
            info["cc_path"] = "driver" if flat["dedup.cc_edges"] <= cap else "distributed"
        metrics = {name: flat.get(name, 0.0) for name in PER_LAYER}
        units = PER_LAYER
    result = {
        "correct": not problems and passes > failed,
        # A pass and each micro-batch it drains count as one operation.
        "attempted": passes * (1 + wl.micro_batches),
        "failed": failed * (1 + wl.micro_batches),
        "metrics": {k: {"value": float(metrics[k]), "unit": units[k]} for k in units},
    }
    return info, result


def main() -> int:
    args = parse_args()
    if not os.path.isfile(os.path.join(ROOT, "xlearning_spark", "__init__.py")):
        print(f"perfbench: no engine source (xlearning_spark/) under {ROOT}", file=sys.stderr)
        return 2
    work = os.path.join(HERE, "_work", f"run-{os.getpid()}")
    if "PERFBENCH_T0" not in os.environ:
        pin_and_reexec(work)
    t0 = float(os.environ["PERFBENCH_T0"])
    loadavg_start = list(os.getloadavg())
    sys.path.insert(1, ROOT)
    try:
        info, result = bench(args, work, t0, loadavg_start)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    print(json.dumps(info))
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())

"""The repo benchmark: seeded workloads against the engine's public API,
timed end to end, with every output checked.

    python3 perfbench/run.py --workload serve_mix --seed 1 --seconds 20 --trace 0

Workloads (see ``BENCHMARK.json`` for why each exists):

- ``serve_mix``: registry reads and keyed store reads beside
  ``TreasureStore`` writes (``serve_mix.py``);
- ``stream_ingest``: the unified search and MinHash near-dup ingests
  fed fixed deltas, with state-served reads (``stream_ingest.py``).

Load model: one process per run on ``local[<cores>]``; a closed loop
with one client that waits for each reply; plain parquet writes with no
fsync, page cache left intact.

``--trace 0`` prints the end-to-end metrics. ``--trace 1`` runs the same
schedule with spans around the benchmark's calls into each engine module
plus Spark's status-store numbers, and prints the per-layer metrics. The
last stdout line is one JSON object: ``correct``, ``attempted``,
``failed`` and ``metrics``. The line before it carries the details
(config, sample counts, tail percentiles, named failures). Each run also
writes ``.perfbench_out/<workload>-seed<n>-trace<0|1>.json``; the traced
one holds the span dump and the per-layer table, and reports the tracing
overhead against the untraced run of the same seed when that file exists.

``--size smoke`` shrinks every input for the benchmark's own test.
"""

from __future__ import annotations

import argparse
import contextlib
import json
import os
import shutil
import signal
import subprocess
import sys
import tempfile
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

from common import ROOT, Recorder, cpu_ticks, fit_session_env, vm_hwm_mb  # noqa: E402
from spans import NullTracer, Tracer  # noqa: E402

END_TO_END = {
    "setup_s": "s",
    "read_p50_ms": "ms",
    "read_tail_ms": "ms",
    "write_p50_ms": "ms",
    "write_tail_ms": "ms",
    "ops_per_s": "1/s",
    "ingest_rows_per_s": "rows/s",
    "write_amp": "ratio",
    "space_amp": "ratio",
    "peak_rss_mb": "MB",
}

#: span totals (inclusive seconds) reported under their own names
SPAN_TOTALS = {
    "store.set": "store.set_s",
    "store.increment": "store.increment_s",
    "store.patch": "store.patch_s",
    "store.delete": "store.delete_s",
    "store.shift_matching": "store.shift_matching_s",
    "store.compact": "store.compact_s",
    "store.current": "store.current_s",
    "streaming.search_ingest": "streaming.search_ingest_s",
    "streaming.dedup_ingest": "streaming.dedup_ingest_s",
    "streaming.bm25_from_state": "streaming.bm25_from_state_s",
}

PER_LAYER_UNITS = {
    "session.start_s": "s",
    "golden.build_s": "s", "golden.calls": "count",
    "golden.frame_memo.hits": "count", "golden.frame_memo.misses": "count",
    "golden.stat_memo.hits": "count", "golden.stat_memo.misses": "count",
    "golden.table_meta.hits": "count", "golden.table_meta.misses": "count",
    "query.translate_s": "s", "query.translate.calls": "count",
    "operators.read_s": "s", "operators.mutate_s": "s",
    "functions.dedup.call_s": "s", "functions.retrieval.call_s": "s",
    "functions.vector.call_s": "s", "functions.text.call_s": "s",
    "functions.sampling.call_s": "s",
    "functions.cache.storage_bytes": "bytes", "functions.cache.cached_rdds": "count",
    "functions.column_memo.hits": "count", "functions.column_memo.misses": "count",
    "sources.load_table_s": "s", "sources.load_table.calls": "count",
    **{v: "s" for k, v in SPAN_TOTALS.items() if k.startswith("store.")},
    "store.jobs_per_write": "count",
    "store.bytes_written": "bytes", "store.user_bytes": "bytes",
    "store.versions_live": "count", "store.dir_bytes": "bytes",
    "store.changes_bytes": "bytes",
    **{v: "s" for k, v in SPAN_TOTALS.items() if k.startswith("streaming.")},
    "streaming.dedup.probe_bands_s": "s", "streaming.dedup.candidates_s": "s",
    "streaming.dedup.verify_write_s": "s", "streaming.dedup.band_write_s": "s",
    "streaming.dedup.shingle_write_s": "s",
    "streaming.jobs_per_epoch": "count", "streaming.bytes_written_per_epoch": "bytes",
    "streaming.state_bytes": "bytes", "streaming.state_files": "count",
    "spark.plan_s": "s", "spark.exec_s": "s", "spark.jobs": "count",
    "spark.stages": "count", "spark.tasks": "count", "spark.failed_tasks": "count",
    "spark.executor_run_s": "s", "spark.executor_cpu_s": "s", "spark.jvm_gc_s": "s",
    "spark.slot_idle_frac": "ratio", "spark.shuffle_read_bytes": "bytes",
    "spark.shuffle_write_bytes": "bytes", "spark.spill_bytes": "bytes",
    "spark.input_bytes": "bytes", "spark.output_bytes": "bytes",
    "python.bytes_sent": "bytes", "python.bytes_received": "bytes",
    "unattributed_s": "s", "trace.wall_s": "s",
}


class Context:
    """What a workload needs from the runner: seed, scratch dir, the
    session, the recorder and the tracer."""

    def __init__(self, seed: int, work: str, tracer):
        self.seed = seed
        self.work = work
        self.tracer = tracer
        self.rec = Recorder(tracer)
        self.spark = None
        self.config = fit_session_env(work)
        self.session_start_s = 0.0
        self.setup_phases: dict = {}

    @contextlib.contextmanager
    def phase(self, name: str):
        """Time one named step of set-up (reported in the details)."""
        t0 = time.perf_counter()
        try:
            yield
        finally:
            self.setup_phases[name] = time.perf_counter() - t0

    def start_session(self) -> None:
        from hydraide_spark.session import get_spark

        cfg = self.config
        t0 = time.perf_counter()
        self.spark = get_spark("perfbench", master=cfg["master"],
                               shuffle_partitions=cfg["shuffle_partitions"],
                               extra_conf=cfg["extra_conf"])
        self.spark.sparkContext.setLogLevel("ERROR")
        self.session_start_s = self.setup_phases["session"] = time.perf_counter() - t0
        # the settings the session really runs with, read back from it
        sc = self.spark.sparkContext
        cfg["master"] = sc.master
        cfg["driver_mem"] = sc.getConf().get("spark.driver.memory")
        cfg["jvm_max_heap_mb"] = sc._jvm.java.lang.Runtime.getRuntime().maxMemory() / 2**20
        if self.tracer.enabled:
            self.tracer.instrument()

    def stop_session(self) -> None:
        """Stop Spark and wait for the JVM (and its Python workers) to exit."""
        from pyspark import SparkContext

        if self.spark is None:
            return
        gateway = SparkContext._gateway
        self.spark.stop()
        proc = getattr(gateway, "proc", None)
        gateway.shutdown()
        if proc is not None:
            proc.stdin.close()
            try:
                proc.wait(timeout=60)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait()

    def peak_rss_mb(self) -> dict:
        """Peak RSS of this Python driver and of its JVM, and the sum of
        the JVM's per-pool peak heap use."""
        from pyspark import SparkContext

        proc = getattr(SparkContext._gateway, "proc", None)
        mf = self.spark.sparkContext._jvm.java.lang.management.ManagementFactory
        heap = sum(p.getPeakUsage().getUsed() for p in mf.getMemoryPoolMXBeans()
                   if str(p.getType()) == "Heap memory")
        return {"python": vm_hwm_mb(os.getpid()),
                "jvm": vm_hwm_mb(proc.pid) if proc is not None else 0.0,
                "jvm_heap_peak_used": heap / 2**20}


def ratios(layers: dict, jobs_key: str, n_writes: int) -> dict:
    """Per-layer ratios, each with the base it divides by."""
    out = {}
    for memo in ("golden.frame_memo", "golden.stat_memo", "golden.table_meta",
                 "functions.column_memo"):
        base = layers[f"{memo}.hits"] + layers[f"{memo}.misses"]
        out[f"{memo}.hit_ratio"] = {"value": layers[f"{memo}.hits"] / base if base else None,
                                    "base_lookups": base}
    out[jobs_key] = {"value": layers[jobs_key], "base_writes": n_writes}
    out["spark.executor_cpu_share"] = {
        "value": layers["spark.executor_cpu_s"] / layers["spark.executor_run_s"]
        if layers["spark.executor_run_s"] else None,
        "base_run_s": layers["spark.executor_run_s"]}
    return out


def parse(argv):
    p = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    p.add_argument("--workload", required=True, choices=["serve_mix", "stream_ingest"])
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=int, required=True)
    p.add_argument("--trace", type=int, choices=[0, 1], default=0)
    p.add_argument("--size", choices=["full", "smoke"], default="full")
    return p.parse_args(argv)


def run(args, work: str, t_setup0: float) -> dict:
    tracer = Tracer() if args.trace else NullTracer()
    ctx = Context(args.seed, work, tracer)
    if args.workload == "serve_mix":
        from serve_mix import ServeMix as Workload
    else:
        from stream_ingest import StreamIngest as Workload
    wl = Workload(ctx, args.size)
    try:
        wl.setup()
        setup_s = time.perf_counter() - t_setup0
        ops = wl.schedule(args.seconds)
        wl.begin_measure()
        if tracer.enabled:
            tracer.spans.clear()
            tracer.counters.clear()
        rec = ctx.rec
        steal0, total0 = cpu_ticks()
        wall0 = time.time()
        rec.t_start = time.perf_counter()
        for op in ops:
            wl.run_op(op)
            if tracer.enabled:
                with rec.paused():
                    tracer.sample_cache(ctx.spark)
        rec.t_end = time.perf_counter()
        wall1 = time.time()
        steal1, total1 = cpu_ticks()
        fin = wl.finish()
        rss = ctx.peak_rss_mb()
        summary = rec.summary()
        detail = {
            "workload": args.workload, "seed": args.seed, "seconds": args.seconds,
            "size": args.size, "trace": args.trace,
            "config": {k: v for k, v in ctx.config.items() if k != "extra_conf"},
            "setup_phases": ctx.setup_phases,
            "ops": len(ops),
            # CPU time the hypervisor gave to others during the measured
            # phase: a high share marks a run slowed by its neighbours
            "steal_frac": (steal1 - steal0) / max(1, total1 - total0),
            "peak_rss_parts_mb": rss,
            **summary,
            "failed_frac": len(rec.failures) / rec.attempted,
            "attempted": rec.attempted,
            "failures": rec.failures,
        }
        metrics = {
            "setup_s": setup_s,
            **{k: summary[k] for k in ("read_p50_ms", "read_tail_ms", "write_p50_ms",
                                       "write_tail_ms", "ops_per_s", "ingest_rows_per_s")},
            "write_amp": fin["write_amp"],
            "space_amp": fin["space_amp"],
            "peak_rss_mb": rss["python"] + rss["jvm"],
        }
        layers = None
        if tracer.enabled:
            spark_m = tracer.harvest_spark(ctx.spark, wall0, wall1)
            table = tracer.layer_table()
            n_writes = len(rec.samples["write"])
            layers = {
                "session.start_s": ctx.session_start_s,
                **tracer.layer_metrics(),
                **{out: table.get(name, {}).get("total_s", 0.0) for name, out in SPAN_TOTALS.items()},
                wl.jobs_per_write_metric: tracer.jobs_in_ops("write") / max(1, n_writes),
                **fin["layers"],
                **spark_m,
                "trace.wall_s": rec.wall(),
            }
            layers = {k: layers.get(k, 0) for k in PER_LAYER_UNITS}
            detail["layers"] = tracer.layer_summary()
            detail["ratios"] = ratios(layers, wl.jobs_per_write_metric, n_writes)
            detail["layer_table"] = table
            detail["unattributed_per_op"] = tracer.unattributed_per_op()
        detail["op_log"] = rec.log
    finally:
        ctx.stop_session()
    return {"detail": detail, "metrics": metrics, "layers": layers,
            "spans": tracer.spans if tracer.enabled else None}


def main(argv=None) -> int:
    args = parse(argv)
    t_setup0 = time.perf_counter()
    # a terminated run still stops its JVM and removes its scratch dir
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    sys.path.insert(0, ROOT)
    try:
        import hydraide_spark  # noqa: F401
        import pyspark  # noqa: F401
    except ImportError as e:
        print(f"cannot import the engine from {ROOT}: {e}", file=sys.stderr)
        return 2
    if not os.path.exists(os.path.join(ROOT, "tools", "check.py")):
        print(f"tools/check.py (the oracle comparator) is missing under {ROOT}", file=sys.stderr)
        return 2
    base = os.path.join(ROOT, ".perfbench_work")
    os.makedirs(base, exist_ok=True)
    work = tempfile.mkdtemp(prefix=f"{args.workload}-", dir=base)
    try:
        res = run(args, work, t_setup0)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    detail = res["detail"]
    out_dir = os.path.join(ROOT, ".perfbench_out")
    os.makedirs(out_dir, exist_ok=True)
    stem = os.path.join(out_dir, f"{args.workload}-seed{args.seed}")
    if args.trace:
        try:
            with open(f"{stem}-trace0.json") as fh:
                untraced = json.load(fh)["detail"]["wall_s"]
            detail["trace_overhead_s"] = detail["wall_s"] - untraced
            detail["trace_overhead_frac"] = detail["wall_s"] / untraced - 1
        except (OSError, KeyError, ValueError):
            detail["trace_overhead_s"] = None  # no untraced run of this seed yet
        metrics, units = res["layers"], PER_LAYER_UNITS
    else:
        metrics, units = res["metrics"], END_TO_END
    with open(f"{stem}-trace{args.trace}.json", "w") as fh:
        json.dump({"detail": detail, "metrics": metrics, "spans": res["spans"]}, fh)
    print(json.dumps({k: v for k, v in detail.items()
                      if k not in ("layer_table", "unattributed_per_op", "op_log")}))
    failed = len(detail["failures"])
    print(json.dumps({
        "correct": failed == 0,
        "attempted": detail["attempted"],
        "failed": failed,
        "metrics": {k: {"value": v, "unit": units[k]} for k, v in metrics.items()},
    }))
    return 0


if __name__ == "__main__":
    raise SystemExit(main())

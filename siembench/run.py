"""SIEM stream benchmark: one workload, one seed, one JSON result line.

    python3 siembench/run.py --workload live_tail --seed 1 --seconds 10 --trace 0

Run from the repository root.  ``--trace 0`` prints the end-to-end metrics,
``--trace 1`` the per-layer ones (and writes the span file
``.siembench_work/trace-<workload>-<seed>.json``).  The last stdout line is
``{"correct", "attempted", "failed", "metrics"}``; the line before it holds
the workload's own named figures, each with its unit (per-rate latencies,
``sustained_eps``, ``alert_mismatches``, noise gauges, sample counts).  Exit status is non-zero
when any alert mismatches the oracle or a run step fails.

Workloads, metrics and the layer map are described in ``siembench/README.md``.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORKLOADS = ("live_tail", "retro_hunt", "alert_storm", "corpus_clean")

#: unit of every end-to-end metric (``--trace 0``).  Alert latency is a
#: figure, not a metric: over the run length the budget allows, its
#: run-to-run spread is wider than any bound the benchmark may set.
END_TO_END = {
    "setup_s": "s",
    "throughput_per_s": "1/s",
    "peak_rss_mb": "MB",
}


#: unit and direction of every per-layer metric (``--trace 1``); a layer the
#: workload does not touch reads 0
PER_LAYER = {
    "session.start_s": ("s", "lower"),
    "sigma.compile_s": ("s", "lower"),
    "sigma.rules_compiled": ("count", "higher"),
    "sigma.rules_rejected": ("count", "lower"),
    "rules.condition_build_s": ("s", "lower"),
    "rules.plan_build_s": ("s", "lower"),
    "rules.eval_s": ("s", "lower"),
    "rules.eval_s_1core": ("s", "lower"),
    "rules.parallel_speedup": ("ratio", "higher"),
    "rules.events_in": ("count", "higher"),
    "rules.alerts_out": ("count", "higher"),
    "rules.alerts_per_event": ("ratio", "higher"),
    "sources.parse_s": ("s", "lower"),
    "sources.records_in": ("count", "higher"),
    "sources.malformed_dropped": ("count", "lower"),
    "sources.read_lag_ms": ("ms", "lower"),
    "stream.batches": ("count", "lower"),
    "stream.rows_per_batch_p50": ("count", "higher"),
    "stream.trigger_ms_p50": ("ms", "lower"),
    "stream.trigger_ms_p95": ("ms", "lower"),
    "stream.add_batch_ms_p50": ("ms", "lower"),
    "stream.query_planning_ms_p50": ("ms", "lower"),
    "stream.latest_offset_ms_p50": ("ms", "lower"),
    "stream.get_batch_ms_p50": ("ms", "lower"),
    "stream.wal_commit_ms_p50": ("ms", "lower"),
    "stream.commit_offsets_ms_p50": ("ms", "lower"),
    "stream.idle_share": ("ratio", "higher"),
    "stream.backlog_events_max": ("count", "lower"),
    "stream.backlog_growth_eps": ("1/s", "lower"),
    "timeframe.eval_s": ("s", "lower"),
    "timeframe.state_rows": ("count", "lower"),
    "timeframe.state_bytes": ("bytes", "lower"),
    "timeframe.state_commit_ms": ("ms", "lower"),
    "timeframe.rows_dropped_late": ("count", "lower"),
    "timeframe.alerts_out": ("count", "higher"),
    "sink.serialize_s": ("s", "lower"),
    "sink.alerts_written": ("count", "higher"),
    "sink.bytes_written": ("bytes", "lower"),
    "sink.commit_ms_p50": ("ms", "lower"),
    "sink.orphaned_staging": ("count", "lower"),
    "ops.quality_s": ("s", "lower"),
    "ops.near_dedup_s": ("s", "lower"),
    "ops.decontam_s": ("s", "lower"),
    "ops.verdict_s": ("s", "lower"),
    "ops.lsh_candidates": ("count", "lower"),
    "ops.lsh_useful_ratio": ("ratio", "higher"),
    "ops.planted_dup_recall": ("ratio", "higher"),
    "loadgen.lag_ms_p99": ("ms", "lower"),
    "loadgen.events_published": ("count", "higher"),
    "trace.overhead_ratio": ("ratio", "lower"),
}


class Context:
    """The process-wide pieces of one run: work dir, Spark session, child
    processes, tracer."""

    def __init__(self, tracer):
        self.tracer = tracer
        self.work = os.path.join(ROOT, ".siembench_work")
        os.makedirs(self.work, exist_ok=True)
        self.cpus = len(os.sched_getaffinity(0))
        self.spark = None
        self.jvm_pid = None
        self.children: list = []
        self.session_start_s = 0.0

    def _conf(self) -> dict:
        local = os.path.join(self.work, "spark-local")
        os.makedirs(local, exist_ok=True)
        return {
            "spark.local.dir": local,
            "spark.sql.warehouse.dir": os.path.join(self.work, "warehouse"),
            "spark.sql.streaming.numRecentProgressUpdates": "1000",
            "spark.ui.showConsoleProgress": "false",
        }

    def start_session(self):
        from dagger_spark.session import get_spark
        from dagger_spark.sources.kafka_sim import register_kafka_sim

        with self.tracer.span("session.start"):
            t0 = time.perf_counter()
            self.spark = get_spark("siembench", master=f"local[{self.cpus}]",
                                   shuffle_partitions=self.cpus, extra_conf=self._conf())
            self.spark.sparkContext.setLogLevel("ERROR")
            register_kafka_sim(self.spark)
            self.session_start_s = time.perf_counter() - t0
        self.tracer.set("session.start_s", self.session_start_s)
        gw = self.spark.sparkContext._gateway
        self.jvm_pid = getattr(getattr(gw, "proc", None), "pid", None)
        return self.spark

    def start_generator(self, spec: dict) -> subprocess.Popen:
        """The load generator, as its own process, on ``spec``."""
        path = os.path.join(spec["work"], "spec.json")
        with open(path, "w") as fh:
            json.dump(spec, fh)
        proc = subprocess.Popen([sys.executable, os.path.join(HERE, "loadgen.py"), path])
        self.children.append(proc)
        return proc

    def restart_session(self, cpus: int):
        """New SparkContext with another core count, in the same JVM."""
        from dagger_spark.session import get_spark

        self.spark.stop()
        self.spark = get_spark("siembench", master=f"local[{cpus}]",
                               shuffle_partitions=cpus, extra_conf=self._conf())
        self.spark.sparkContext.setLogLevel("ERROR")
        return self.spark

    def close(self) -> None:
        for proc in self.children:
            if proc.poll() is None:
                proc.kill()
            proc.wait()
        if self.spark is not None:
            from pyspark import SparkContext

            for q in self.spark.streams.active:
                q.stop()
            gw = SparkContext._gateway
            self.spark.stop()
            self.spark = None
            proc = getattr(gw, "proc", None)
            if gw is not None:
                gw.shutdown()
            if proc is not None:
                # the gateway JVM exits when its stdin closes
                proc.stdin.close()
                try:
                    proc.wait(timeout=20)
                except subprocess.TimeoutExpired:
                    proc.kill()
                    proc.wait()


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    # the package is imported from the checkout by this process, by the load
    # generator and by Spark's Python workers
    sys.path[:0] = [ROOT, HERE]
    os.environ["PYTHONPATH"] = os.pathsep.join(
        [ROOT, HERE] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p])
    os.environ.setdefault("SPARK_DRIVER_MEMORY", "2g")
    # temporary files stay inside the checkout, for Python and every JVM
    tmp = os.path.join(ROOT, ".siembench_work", "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    os.environ["JAVA_TOOL_OPTIONS"] = f"-XX:-UsePerfData -Djava.io.tmpdir={tmp}"
    import dagger_spark  # noqa: F401  (fails fast outside a checkout)

    from spans import Tracer, calibrate, cpu_ticks, loadavg, peak_rss_mb

    run_id = f"{args.workload}-{args.seed}-{int(time.time())}"
    tracer = Tracer(bool(args.trace), run_id)
    ctx = Context(tracer)
    load_start = loadavg()
    steal_start = cpu_ticks()
    wall0 = time.perf_counter()
    try:
        if args.workload == "corpus_clean":
            from corpus import run_corpus

            run = run_corpus(ctx, args.seed, args.seconds)
        else:
            import siem

            run = siem.Run(ctx, args.workload, args.seed, args.seconds)
            (siem.run_live if args.workload == "live_tail" else siem.run_backlog)(run)
        run.result["peak_rss_mb"] = peak_rss_mb(ctx.jvm_pid)
        wall = time.perf_counter() - wall0
        run.info["calibration_s"] = calibrate(ctx.spark)
        run.info["loadavg_start"] = load_start
        run.info["loadavg_end"] = loadavg()
        steal, total = (b - a for a, b in zip(steal_start, cpu_ticks()))
        run.info["steal_share"] = steal / max(1, total)
    finally:
        ctx.close()
        shutil.rmtree(os.path.join(ctx.work, args.workload), ignore_errors=True)

    run.info["alert_mismatches"] = run.mismatches
    # a failing step raises and exits non-zero; what is left to count is
    # missing or extra output
    failed = run.mismatches
    run.info["failed_ratio"] = failed / max(1, run.attempted)
    if args.trace:
        tr = tracer
        tr.set("trace.overhead_ratio", wall / max(1e-9, wall - tr.overhead_s))
        tr.dump(os.path.join(ctx.work, f"trace-{args.workload}-{args.seed}.json"))
        unknown = set(tr.values) - set(PER_LAYER)
        if unknown:
            raise RuntimeError(f"per-layer metrics missing from PER_LAYER: {unknown}")
        metrics = {k: {"value": float(tr.values.get(k, 0.0)), "unit": unit}
                   for k, (unit, _better) in PER_LAYER.items()}
    else:
        metrics = {k: {"value": float(run.result[k]), "unit": u}
                   for k, u in END_TO_END.items()}
    correct = run.mismatches == 0
    figures = {k: {"value": v, "unit": figure_unit(k)} for k, v in run.info.items()}
    print(json.dumps({"workload": args.workload, "seed": args.seed, "figures": figures}))
    print(json.dumps({"correct": correct, "attempted": int(run.attempted),
                      "failed": int(failed), "metrics": metrics}))
    return 0 if correct else 1


def figure_unit(name: str) -> str:
    """Unit of a workload figure, from its name."""
    if name.startswith("latency_p"):
        return "ms"
    if name.endswith("_eps") or "_eps." in name or name.endswith("_per_s"):
        return "1/s"
    if name.endswith("_s"):
        return "s"
    if name.endswith(("_ratio", "_recall", "_share")):
        return "ratio"
    if name.startswith("loadavg"):
        return "load"
    return "count"


if __name__ == "__main__":
    sys.exit(main())

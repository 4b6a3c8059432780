"""The three SIEM workloads: ``live_tail``, ``retro_hunt``, ``alert_storm``.

Every workload drives the production path through public functions only:

    spark.readStream.schema(KAFKA_WIRE_SCHEMA).parquet(topic)    Kafka-wire records
      -> sources.kafka.kafka_events_from_records                 parse + 5 s watermark
      -> streaming.job.build_alert_stream                        rules.engine + rules.timeframe
      -> sources.kafka.kafka_alert_payload                       alert JSON
      -> writeStream.format("kafka_sim")                         two-phase commit sink

with the rule pack compiled from the generator's Sigma YAML by
``sigma.compile_sigma``.
"""

from __future__ import annotations

import dataclasses
import json
import os
import shutil
import statistics
import subprocess
import time
from collections import Counter
from datetime import datetime

import yaml
from pyspark.sql import functions as F

from dagger_spark.rules.builtin import active_rules
from dagger_spark.rules.engine import apply_rules_single_pass
from dagger_spark.rules.timeframe import apply_timeframe_rules
from dagger_spark.sigma import SigmaCompileError, compile_sigma
from dagger_spark.sources.kafka import (
    KAFKA_WIRE_SCHEMA, kafka_alert_payload, kafka_events_from_records,
)
from dagger_spark.streaming.job import build_alert_stream

from oracle import (
    Oracle, backed, diff_count, orphaned_staging, read_sink, sink_bytes,
    stateless_pairs, timeframe_key,
)

#: latency limit for ``sustained_eps``: the reference's 5 s watermark
LATENCY_LIMIT_MS = 5000.0
#: a phase's backlog may grow by at most this share of its rate
BACKLOG_GROWTH_LIMIT = 0.1
#: rounds of pack setup per run: ``setup_s`` reports the first, cold one
#: (what a user pays), the figure ``setup_warm_s`` the median of the rest
SETUP_ROUNDS = 2

#: timeframe variants Sigma has no syntax for, set on the compiled rule
TIMEFRAME_VARIANTS = {
    "Token Theft Burst": {"timeframe_exact": True},
    "Storm Burst Sliding": {"timeframe_slide_seconds": 5},
}

_COMMON = dict(
    n_hosts=200, host_skew=1.1, tick_s=0.25, burstiness=0.7,
    ooo_share=0.0, late_share=0.0, malformed_share=0.002,
    warm_files=4, shuffle_in_tick=True, flush_s=3600,
)

#: live_tail ladder: events/s at ~10% / 40% / 75% of the live pack's
#: drain capacity (~3.2k events/s on the 4-core x86 box of README.md)
LIVE_RATES = {"low": 300, "mid": 1300, "high": 2400}
#: after the ladder, ``SURGES`` backlogs of ``SURGE_RECORDS`` records, each
#: published at once after ``SURGE_GAP_S`` s (as files of at most
#: ``FILE_RECORDS``, so a batch reads them in parallel tasks); the live query
#: drains each in one batch.  The first ``SURGE_WARM`` let the JIT settle on
#: batches of that size; the median rate of the rest is ``throughput_per_s``
SURGES, SURGE_WARM, SURGE_RECORDS, SURGE_GAP_S = 10, 1, 20000, 2.5
FILE_RECORDS = 5000

SPECS = {
    "retro_hunt": dict(
        _COMMON, kind="backlog", pack="retro_hunt", n_rules=120,
        hit_share=0.006, event_rate=5000, n_records=12_000, files=24,
        max_files=8, warm_records=2000,
    ),
    "alert_storm": dict(
        _COMMON, kind="backlog", pack="alert_storm", n_hosts=40, host_skew=1.4,
        storm_share=0.5, hit_share=0.01, event_rate=2000, n_records=12_000,
        files=24, max_files=8, warm_records=2000,
    ),
    "live_tail": dict(
        _COMMON, kind="live", pack="live_tail", hit_share=0.01,
        ooo_share=0.02, late_share=0.005, malformed_share=0.003,
        burst_needles=["token-dump"], burst_prob=0.08,
        warm_records=600, shuffle_in_tick=False, flush_s=0,
        file_records=FILE_RECORDS,
    ),
}


def generator_spec(workload: str, seed: int, seconds: float, work: str) -> dict:
    s = dict(SPECS[workload], seed=seed, work=work)
    warm_s = s["warm_records"] / 2000.0
    s["warm_phases"] = [{"rate": 2000, "seconds": warm_s}]
    if s["kind"] == "live":
        # whole ticks, so the phase bounds match the published ticks
        phase_s = max(1, round(seconds / 3.0 / s["tick_s"])) * s["tick_s"]
        # the warm-in absorbs the new query's first, slower batches
        s["phases"] = [{"name": "warm_in", "rate": LIVE_RATES["low"], "seconds": 2.0}] + [
            {"name": name, "rate": rate, "seconds": phase_s}
            for name, rate in LIVE_RATES.items()
        ] + [
            {"name": f"surge{i}", "records": SURGE_RECORDS, "seconds": SURGE_GAP_S}
            for i in range(SURGES)
        ]
    else:
        s["phases"] = [{"rate": s["event_rate"],
                        "seconds": s["n_records"] / s["event_rate"]}]
    return s


# ---------------------------------------------------------------------------
# the system path
# ---------------------------------------------------------------------------
def compile_pack(pack_dir: str) -> tuple:
    """Built-in rules plus the YAML pack through ``compile_sigma``;
    returns ``(rules, compiled, rejected)``."""
    rules = list(active_rules())
    compiled = rejected = 0
    for name in sorted(os.listdir(pack_dir)):
        with open(os.path.join(pack_dir, name)) as fh:
            doc = yaml.safe_load(fh)
        try:
            rule = compile_sigma(doc)
        except SigmaCompileError:
            rejected += 1
            continue
        variant = TIMEFRAME_VARIANTS.get(rule.name)
        if variant:
            rule = dataclasses.replace(rule, **variant)
        rules.append(rule)
        compiled += 1
    return rules, compiled, rejected


def start_query(spark, topic: str, rules, out: str, ck: str,
                available_now: bool, max_files: int = 0):
    reader = spark.readStream.schema(KAFKA_WIRE_SCHEMA)
    if max_files:
        reader = reader.option("maxFilesPerTrigger", max_files)
    events = kafka_events_from_records(reader.parquet(topic))
    alerts = build_alert_stream(events, rules)
    writer = (
        kafka_alert_payload(alerts).writeStream.format("kafka_sim")
        .option("path", out).option("checkpointLocation", ck)
        .outputMode("append")
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()


# ---------------------------------------------------------------------------
# helpers
# ---------------------------------------------------------------------------
def pct(values, q: float) -> float:
    """Nearest-rank percentile (q in [0, 100]); NaN when empty."""
    if not values:
        return float("nan")
    v = sorted(values)
    k = max(0, min(len(v) - 1, int(round(q / 100.0 * len(v) + 0.5)) - 1))
    return float(v[k])


def progress_rows(query, total_records: int) -> list:
    """The query's progress reports, each with ``records``: the input
    records the batch consumed.  ``numInputRows`` counts a record once per
    scan of the source, and a query with timeframe rules scans it twice
    (the stateless and stateful branches of the union)."""
    rows = [json.loads(p.json) for p in query.recentProgress]
    scans = max(1, round(sum(p.get("numInputRows", 0) for p in rows)
                         / max(1, total_records)))
    for p in rows:
        p["records"] = p.get("numInputRows", 0) / scans
    return rows


def _ts(iso: str) -> float:
    return datetime.fromisoformat(iso.replace("Z", "+00:00")).timestamp()


def fresh_dirs(work: str, name: str) -> tuple:
    out = os.path.join(work, "sink", name)
    ck = os.path.join(work, "ck", name)
    for d in (out, ck):
        shutil.rmtree(d, ignore_errors=True)
    os.makedirs(out)
    return out, ck


class Run:
    """Shared state of one SIEM run."""

    def __init__(self, ctx, workload: str, seed: int, seconds: float):
        self.ctx = ctx
        self.tr = ctx.tracer
        self.workload = workload
        self.seconds = seconds
        self.work = os.path.join(ctx.work, workload)
        shutil.rmtree(self.work, ignore_errors=True)
        os.makedirs(self.work)
        self.spec = generator_spec(workload, seed, seconds, self.work)
        self.result: dict = {}
        self.info: dict = {}
        self.attempted = 0
        self.mismatches = 0

    # -- setup ------------------------------------------------------------
    def setup_round(self, k: int) -> float:
        tr = self.tr
        t0 = time.perf_counter()
        with tr.span("sigma.compile"):
            rules, compiled, rejected = compile_pack(os.path.join(self.work, "pack"))
        with tr.span("rules.condition_build"):
            for r in rules:
                r.condition()
        out, ck = fresh_dirs(self.work, f"setup{k}")
        with tr.span("rules.plan_build"):
            q = start_query(self.ctx.spark, os.path.join(self.work, "warm_topic"),
                            rules, out, ck, available_now=True)
        with tr.span("stream.warmup_drain"):
            q.awaitTermination()
        elapsed = time.perf_counter() - t0
        if k == 0:
            tr.set("sigma.compile_s", tr.total("sigma.compile"))
            tr.set("rules.condition_build_s", tr.total("rules.condition_build"))
            tr.set("rules.plan_build_s", tr.total("rules.plan_build"))
        tr.set("sigma.rules_compiled", compiled)
        tr.set("sigma.rules_rejected", rejected)
        self.rules = rules
        return elapsed

    def setup(self) -> None:
        rounds = [self.setup_round(k) for k in range(SETUP_ROUNDS)]
        self.info["setup_warm_s"] = statistics.median(rounds[1:])
        self.result["setup_s"] = self.ctx.session_start_s + rounds[0]

    @property
    def stateless(self):
        return [r for r in self.rules if not r.timeframe_seconds]

    @property
    def timeframe(self):
        return [r for r in self.rules if r.timeframe_seconds]

    # -- oracle -------------------------------------------------------------
    def load_oracle(self) -> None:
        with self.tr.span("oracle.load"):
            self.oracle = Oracle(os.path.join(self.work, "truth.parquet"),
                                 self.ctx.cpus)
            rows = self.oracle.matches(self.rules)
        names = [r.name for r in self.rules]
        stateless = {r.name for r in self.stateless}
        self.want = Counter((u, names[i]) for u, i, _h, _t, _d in rows
                            if names[i] in stateless)
        self.ref_matches: dict = {}
        for u, i, h, ts, _d in rows:
            self.ref_matches.setdefault(names[i], {})[u] = (h, ts)

    def check_stateless(self, alerts) -> int:
        got = stateless_pairs(alerts, {r.name for r in self.stateless})
        return diff_count(got, self.want)

    # -- per-layer legs (traced run only) -----------------------------------
    def isolated_legs(self, topic: str) -> None:
        """Time each layer alone over cached inputs: parse over cached wire
        records, rule evaluation over cached parsed events, timeframe over
        the same, serialization over cached alerts."""
        spark = self.ctx.spark
        tr = self.tr
        wire = spark.read.schema(KAFKA_WIRE_SCHEMA).parquet(topic).cache()
        n_wire = wire.count()

        def force(df) -> int:
            return df.select(F.sum(F.hash(*df.columns))).collect()[0][0]

        events = kafka_events_from_records(wire)
        force(events)  # warm
        with tr.span("sources.parse"):
            force(events)
        tr.set("sources.parse_s", tr.total("sources.parse"))
        cached = events.cache()
        n_events = cached.count()
        tr.set("sources.records_in", n_wire)
        tr.set("sources.malformed_dropped", n_wire - n_events)
        alerts = apply_rules_single_pass(cached, self.stateless)
        force(alerts)
        with tr.span("rules.eval"):
            force(alerts)
        n_alerts = alerts.count()
        tr.set("rules.eval_s", tr.total("rules.eval"))
        tr.set("rules.events_in", n_events)
        tr.set("rules.alerts_out", n_alerts)
        tr.set("rules.alerts_per_event", n_alerts / max(1, n_events))
        if self.timeframe:
            tf = apply_timeframe_rules(cached, self.timeframe)
            force(tf)
            with tr.span("timeframe.eval"):
                force(tf)
            tr.set("timeframe.eval_s", tr.total("timeframe.eval"))
        alert_cache = alerts.cache()
        alert_cache.count()
        payload = kafka_alert_payload(alert_cache)
        force(payload)
        with tr.span("sink.serialize"):
            force(payload)
        tr.set("sink.serialize_s", tr.total("sink.serialize"))
        for df in (alert_cache, cached, wire):
            df.unpersist()

    def single_core_leg(self, topic: str) -> None:
        """Rule evaluation on ``local[1]``: the single-threaded baseline."""
        spark = self.ctx.restart_session(1)
        cached = kafka_events_from_records(
            spark.read.schema(KAFKA_WIRE_SCHEMA).parquet(topic)).cache()
        cached.count()
        alerts = apply_rules_single_pass(cached, self.stateless)
        alerts.select(F.sum(F.hash(*alerts.columns))).collect()
        with self.tr.span("rules.eval_1core"):
            alerts.select(F.sum(F.hash(*alerts.columns))).collect()
        one = self.tr.total("rules.eval_1core")
        self.tr.set("rules.eval_s_1core", one)
        self.tr.set("rules.parallel_speedup",
                    one / max(1e-9, self.tr.values.get("rules.eval_s", one)))
        cached.unpersist()
        self.ctx.restart_session(self.ctx.cpus)

    # -- stream progress ----------------------------------------------------
    def stream_metrics(self, progress: list, wall_s: float) -> None:
        tr = self.tr
        if not tr.enabled or not progress:
            return
        data = [p for p in progress if p["records"] > 0] or progress
        dur = [p.get("durationMs", {}) for p in data]
        tr.set("stream.batches", len(data))
        tr.set("stream.rows_per_batch_p50",
               statistics.median(p["records"] for p in data))
        trig = [d.get("triggerExecution", 0) for d in dur]
        tr.set("stream.trigger_ms_p50", statistics.median(trig))
        tr.set("stream.trigger_ms_p95", pct(trig, 95))
        for part in ("addBatch", "queryPlanning", "latestOffset", "getBatch",
                     "walCommit", "commitOffsets"):
            key = "".join("_" + c.lower() if c.isupper() else c for c in part)
            tr.set(f"stream.{key}_ms_p50", statistics.median(d.get(part, 0) for d in dur))
        busy = sum(d.get("triggerExecution", 0) for d in
                   (p.get("durationMs", {}) for p in progress)) / 1000.0
        tr.set("stream.idle_share", max(0.0, 1.0 - busy / max(wall_s, 1e-9)))
        ops = [op for p in progress for op in p.get("stateOperators", [])]
        if ops:
            last = progress[-1].get("stateOperators", [])
            tr.set("timeframe.state_rows", sum(o.get("numRowsTotal", 0) for o in last))
            tr.set("timeframe.state_bytes", sum(o.get("memoryUsedBytes", 0) for o in last))
            per_batch = [sum(o.get("commitTimeMs", 0) for o in p.get("stateOperators", []))
                         for p in data]
            tr.set("timeframe.state_commit_ms", statistics.median(per_batch))
            tr.set("timeframe.rows_dropped_late",
                   sum(o.get("numRowsDroppedByWatermark", 0) for o in ops))

    def sink_metrics(self, out: str, batches: list) -> None:
        tr = self.tr
        if not tr.enabled:
            return
        tf_names = {r.name for r in self.timeframe}
        tr.set("sink.alerts_written", sum(len(a) for _v, a in batches))
        tr.set("sink.bytes_written", sink_bytes(out))
        tr.set("sink.orphaned_staging", orphaned_staging(out))
        tr.set("timeframe.alerts_out",
               sum(1 for _v, a in batches for x in a if x["rule"]["name"] in tf_names))
        lags = []
        for mf in sorted(f for f in os.listdir(out) if f.startswith("manifest-")):
            with open(os.path.join(out, mf)) as fh:
                files = json.load(fh)["files"]
            if files:
                staged = max(os.stat(os.path.join(out, f["file"])).st_mtime for f in files)
                lags.append((os.stat(os.path.join(out, mf)).st_mtime - staged) * 1000.0)
        if lags:
            tr.set("sink.commit_ms_p50", statistics.median(lags))


# ---------------------------------------------------------------------------
# backlog drains: retro_hunt, alert_storm
# ---------------------------------------------------------------------------
def _drain(run: Run, k: int) -> dict:
    ctx, tr = run.ctx, run.tr
    topic = os.path.join(run.work, "topic")
    out, ck = fresh_dirs(run.work, f"drain{k}")
    with tr.span("stream.drain"):
        t0 = time.time()
        p0 = time.perf_counter()
        q = start_query(ctx.spark, topic, run.rules, out, ck, available_now=True,
                        max_files=run.spec["max_files"])
        q.awaitTermination()
        wall = time.perf_counter() - p0
    progress = progress_rows(q, run.topic_records)
    batches = read_sink(out)
    records = run.topic_records
    lat = [(v - t0) * 1000.0 for v, alerts in batches for _a in alerts]
    return dict(out=out, wall=wall, t0=t0, records=records, batches=batches,
                progress=progress, lat=lat)


def _timeframe_reference(run: Run) -> Counter:
    """Timeframe alerts by the batch path of ``rules.timeframe`` over the
    same records."""
    spark = run.ctx.spark
    wire = spark.read.schema(KAFKA_WIRE_SCHEMA).parquet(os.path.join(run.work, "topic"))
    ref = kafka_alert_payload(
        apply_timeframe_rules(kafka_events_from_records(wire), run.timeframe))
    return Counter(timeframe_key(json.loads(r["value"])) for r in ref.collect())


def run_backlog(run: Run) -> None:
    import pyarrow.parquet as pq

    gen = run.ctx.start_generator(run.spec)
    run.ctx.start_session()  # overlaps the generator
    with run.tr.span("loadgen.generate"):
        if gen.wait(timeout=170) != 0:
            raise RuntimeError("load generator failed")
    topic = os.path.join(run.work, "topic")
    run.topic_records = sum(pq.read_metadata(os.path.join(topic, f)).num_rows
                            for f in os.listdir(topic))
    run.setup()
    run.load_oracle()
    tf_ref = _timeframe_reference(run) if run.timeframe else Counter()
    tf_names = {r.name for r in run.timeframe}
    drains = []
    deadline = time.perf_counter() + run.seconds
    while not drains or time.perf_counter() < deadline:
        d = _drain(run, len(drains))
        alerts = [a for _v, batch in d["batches"] for a in batch]
        miss = run.check_stateless(alerts)
        if tf_names:
            got = Counter(timeframe_key(a) for a in alerts if a["rule"]["name"] in tf_names)
            miss += diff_count(got, tf_ref)
        d["mismatches"] = miss
        run.mismatches += miss
        run.attempted += d["records"]
        drains.append(d)
    n_in = run.oracle.n_events()
    run.info.update(
        drains=len(drains),
        records_per_drain=drains[0]["records"],
        events_per_drain=n_in,
        alerts_per_drain=sum(len(b) for _v, b in drains[0]["batches"]),
        latency_samples_per_drain=len(drains[0]["lat"]),
        timeframe_alerts_expected=sum(tf_ref.values()),
    )
    eps = [d["records"] / d["wall"] for d in drains]
    run.result["throughput_per_s"] = statistics.median(eps)
    run.info["latency_p50_ms"] = statistics.median(pct(d["lat"], 50) for d in drains)
    run.info["latency_p95_ms"] = statistics.median(pct(d["lat"], 95) for d in drains)
    run.info["events_per_s"] = run.result["throughput_per_s"]
    tr = run.tr
    if tr.enabled:
        # the per-layer figures describe the first drain
        d = drains[0]
        run.stream_metrics(d["progress"], d["wall"])
        run.sink_metrics(d["out"], d["batches"])
        lag = [(_ts(p["timestamp"]) - d["t0"]) * 1000.0 for p in d["progress"] if p["records"]]
        tr.set("sources.read_lag_ms", statistics.median(lag) if lag else 0.0)
        tr.set("stream.backlog_events_max", d["records"])
        tr.set("stream.backlog_growth_eps", 0.0)
        tr.set("loadgen.events_published", d["records"])
        run.isolated_legs(os.path.join(run.work, "topic"))
        if run.workload == "retro_hunt":
            run.single_core_leg(os.path.join(run.work, "topic"))


# ---------------------------------------------------------------------------
# live_tail: open loop at three fixed rates
# ---------------------------------------------------------------------------
def _wait_for(path: str, proc: subprocess.Popen, timeout: float) -> None:
    deadline = time.time() + timeout
    while not os.path.exists(path):
        if proc.poll() is not None:
            raise RuntimeError("load generator exited early")
        if time.time() > deadline:
            raise RuntimeError(f"timed out waiting for {path}")
        time.sleep(0.01)


def run_live(run: Run) -> None:
    ctx, tr = run.ctx, run.tr
    gen = run.ctx.start_generator(run.spec)
    ctx.start_session()  # overlaps the generator's preparation
    with tr.span("loadgen.generate"):
        _wait_for(os.path.join(run.work, "ready"), gen, 170)
    run.setup()
    out, ck = fresh_dirs(run.work, "live")
    topic = os.path.join(run.work, "live_topic")
    q = start_query(ctx.spark, topic, run.rules, out, ck, available_now=False)
    t0 = time.time() + 0.3
    with open(os.path.join(run.work, "go.tmp"), "w") as fh:
        fh.write(repr(t0))
    os.replace(os.path.join(run.work, "go.tmp"), os.path.join(run.work, "go"))
    with tr.span("stream.live"):
        if gen.wait(timeout=170) != 0:
            raise RuntimeError("load generator failed")
        q.processAllAvailable()
        wall = time.time() - t0
    q.stop()
    with open(os.path.join(run.work, "publish_log.json")) as fh:
        plog = json.load(fh)
    records = sum(n for _k, _due, _pub, n in plog["ticks"])
    progress = progress_rows(q, records)
    batches = read_sink(out)
    run.load_oracle()
    alerts = [a for _v, b in batches for a in b]
    miss = run.check_stateless(alerts)
    by_name = {r.name: r for r in run.timeframe}
    miss += sum(1 for a in alerts if a["rule"]["name"] in by_name
                and not backed(a, by_name[a["rule"]["name"]], run.ref_matches))
    run.mismatches += miss
    run.attempted += records

    # ladder phase boundaries (absolute due times); the surges follow
    bounds, t = [], t0
    for ph in run.spec["phases"]:
        if "records" not in ph:
            bounds.append((ph["name"], ph["rate"], t, t + ph["seconds"]))
        t += ph["seconds"]
    due = run.oracle.due_us()
    emit_on_arrival = {r.name for r in run.rules
                       if not r.timeframe_seconds or r.timeframe_exact}
    per_phase = {name: [] for name, *_ in bounds}
    for visible, b in batches:
        for a in b:
            if a["rule"]["name"] not in emit_on_arrival:
                continue
            last_due = max(due[u] for u in a["event"]["origin_ids"]) / 1e6
            for name, _rate, lo, hi in bounds:
                if lo <= last_due < hi:
                    per_phase[name].append((visible - last_due) * 1000.0)
    # backlog at each batch end: published so far minus committed so far
    pubs = sorted((pub, n) for _k, _d, pub, n in plog["ticks"])
    samples, committed = [], 0
    for p in progress:
        committed += p["records"]
        end = _ts(p["timestamp"]) + p.get("durationMs", {}).get("triggerExecution", 0) / 1000.0
        published = sum(n for pub, n in pubs if pub <= end)
        samples.append((end, published - committed))
    sustained = 0.0
    for name, rate, lo, hi in bounds[1:]:
        lat = per_phase[name]
        run.info[f"latency_p50_ms.{name}"] = pct(lat, 50)
        run.info[f"latency_p95_ms.{name}"] = pct(lat, 95)
        run.info[f"latency_samples.{name}"] = len(lat)
        growth = _slope([(t, b) for t, b in samples if lo <= t < hi + 1.0])
        run.info[f"backlog_growth_eps.{name}"] = growth
        if pct(lat, 95) <= LATENCY_LIMIT_MS and growth <= BACKLOG_GROWTH_LIMIT * rate:
            sustained = max(sustained, float(rate))
    run.info["sustained_eps"] = sustained
    measured = [x for name, *_ in bounds[1:] for x in per_phase[name]]
    run.info["latency_p50_ms"] = pct(measured, 50)
    run.info["latency_p95_ms"] = pct(measured, 95)
    rates = surge_rates(progress, plog["ticks"], bounds[-1][3])
    run.info["surge_batches"] = len(rates)
    run.result["throughput_per_s"] = statistics.median(rates)
    run.info["latency_samples"] = len(measured)
    if tr.enabled:
        run.stream_metrics(progress, wall)
        run.sink_metrics(out, batches)
        tr.set("stream.backlog_events_max",
               max((b for t, b in samples if t < bounds[-1][3] + 1.0), default=0))
        tr.set("stream.backlog_growth_eps", run.info["backlog_growth_eps.high"])
        lags = [(pub - d) * 1000.0 for _k, d, pub, _n in plog["ticks"]]
        tr.set("loadgen.lag_ms_p99", pct(lags, 99))
        tr.set("loadgen.events_published", records)
        # oldest unread record at batch start: batches take files in publish
        # order, so it is record number (committed so far + 1)
        cum, acc = [], 0
        for pub, n in pubs:
            acc += n
            cum.append((acc, pub))
        read_lag, done = [], 0
        for p in progress:
            rows = p["records"]
            if rows:
                start = _ts(p["timestamp"])
                oldest = next(pub for c, pub in cum if c > done)
                read_lag.append(max(0.0, (start - oldest) * 1000.0))
            done += rows
        tr.set("sources.read_lag_ms", statistics.median(read_lag) if read_lag else 0.0)
        run.isolated_legs(topic)
        run.single_core_leg(topic)


def surge_rates(progress: list, ticks: list, ladder_end: float) -> list:
    """Records per second of trigger time of each batch that drained one
    measured surge (any after the first ``SURGE_WARM``) and nothing else.
    The stream reads whole files in publish order, so such a batch starts
    where its surge starts and holds exactly the surge's records; a surge
    read together with ladder backlog or with the next surge is left out,
    so every rate is over the same batch size."""
    starts, acc, warm = {}, 0, SURGE_WARM
    for _k, due, _pub, n in ticks:
        if due >= ladder_end and n:
            if warm:
                warm -= 1
            else:
                starts[acc] = n
        acc += n
    rates, done = [], 0
    for p in progress:
        rows = round(p["records"])
        if rows and starts.get(done) == rows:
            trig = p.get("durationMs", {}).get("triggerExecution", 0) / 1000.0
            rates.append(rows / trig)
        done += rows
    if not rates:
        raise RuntimeError("no batch drained a surge alone")
    return rates


def _slope(points: list) -> float:
    """Least-squares slope of ``(t, backlog)`` points (events/s)."""
    if len(points) < 2:
        return 0.0
    n = len(points)
    mt = sum(t for t, _b in points) / n
    mb = sum(b for _t, b in points) / n
    den = sum((t - mt) ** 2 for t, _b in points)
    if den == 0:
        return 0.0
    return sum((t - mt) * (b - mb) for t, b in points) / den

"""Correctness oracle: what the alert topic must contain.

* Stateless alerts, as ``(origin uuid, rule name)`` pairs, against DuckDB
  evaluating each rule's ``expr.to_sql(predicate, "duckdb")`` over the
  generator's answer key (every well-formed event).
* Timeframe alerts of a backlog drain against the batch path of
  ``rules.timeframe`` over the same records.
* Live timeframe alerts: each must be backed by at least N reference
  matches of its rule, on its host, within its timeframe.
* ``corpus_clean``: every document's ``is_canonical`` flag against
  ``near_dedup`` replayed in plain Python (``near_dedup_reference``).

A mismatch is counted, never repaired; ``run.py`` exits non-zero on any.
"""

from __future__ import annotations

import hashlib
import json
import os
from collections import Counter

import duckdb

from dagger_spark.expr import to_sql
from dagger_spark.ops.dedup import minhash_params


def read_sink(path: str) -> list:
    """The sink's committed batches in commit order: ``(visible_at_s,
    [alert dict, ...])`` per manifest.  A manifest's mtime is when the
    two-phase commit made its alerts visible (it is written, then renamed
    into place)."""
    out = []
    if not os.path.isdir(path):
        return out
    for mf in sorted(f for f in os.listdir(path) if f.startswith("manifest-")):
        full = os.path.join(path, mf)
        visible = os.stat(full).st_mtime
        with open(full) as fh:
            manifest = json.load(fh)
        alerts = []
        for entry in manifest["files"]:
            with open(os.path.join(path, entry["file"]), "rb") as fh:
                alerts.extend(json.loads(line) for line in fh if line.strip())
        out.append((visible, alerts))
    return out


def sink_bytes(path: str) -> int:
    return sum(
        os.path.getsize(os.path.join(path, f))
        for f in os.listdir(path) if f.startswith("part-")
    )


def orphaned_staging(path: str) -> int:
    staging = os.path.join(path, ".staging")
    return len(os.listdir(staging)) if os.path.isdir(staging) else 0


class Oracle:
    def __init__(self, truth_path: str, threads: int):
        self.con = duckdb.connect()
        self.con.execute(f"SET threads = {int(threads)}")
        # event_data flattened into columns and the table aliased as
        # ``event_data``: the rendered predicates' "event_data"."Field"
        # references then resolve as plain column reads, ~6x faster than
        # struct extraction
        self.con.execute(
            "CREATE TABLE ev AS SELECT * EXCLUDE (event_data), event_data.* "
            f"FROM read_parquet('{truth_path}')"
        )

    def n_events(self) -> int:
        return self.con.execute("SELECT count(*) FROM ev").fetchone()[0]

    def matches(self, rules) -> list:
        """``(uuid, rule index, host, event time µs, due µs)`` for every
        event each rule's predicate accepts."""
        parts = [
            f"SELECT uuid, {i} AS r, host, epoch_us(timestamp) AS ts, due_us "
            f"FROM ev AS event_data WHERE "
            f"{to_sql(r.predicate, 'duckdb', case_insensitive=r.case_insensitive)}"
            for i, r in enumerate(rules)
        ]
        if not parts:
            return []
        return self.con.execute(" UNION ALL ".join(parts)).fetchall()

    def due_us(self) -> dict:
        return dict(self.con.execute("SELECT uuid, due_us FROM ev").fetchall())


def stateless_pairs(alerts, stateless_names: set) -> Counter:
    return Counter(
        (a["event"]["origin_ids"][0], a["rule"]["name"])
        for a in alerts if a["rule"]["name"] in stateless_names
    )


def diff_count(got: Counter, want: Counter) -> int:
    """Missing plus extra (duplicates count as extra)."""
    return sum(((want - got) + (got - want)).values())


def timeframe_key(a: dict) -> tuple:
    ev = a["event"]
    return (a["rule"]["name"], a["host"], ev["start"], ev["end"], ev["count"],
            tuple(sorted(ev["origin_ids"])))


def backed(alert: dict, rule, matches_by_rule: dict) -> bool:
    """A live timeframe alert is backed when at least ``min_count`` of its
    origin events are reference matches of its rule on its host, all within
    ``timeframe_seconds`` of each other."""
    ids = alert["event"]["origin_ids"]
    ref = matches_by_rule.get(rule.name, {})
    ts = [ref[u][1] for u in ids if u in ref and ref[u][0] == alert["host"]]
    need = int(rule.timeframe_min_count or 2)
    return len(ts) >= need and max(ts) - min(ts) <= rule.timeframe_seconds * 1_000_000


def near_dedup_reference(docs: list, shingle_k: int = 3, num_hashes: int = 16,
                         bands: int = 4) -> dict:
    """``{doc_id: is_canonical}`` as ``CorpusPipeline.near_dedup`` defines
    it, replayed in Python: distinct word ``shingle_k``-shingles, one 60-bit
    md5 hash per shingle, the affine MinHash family of ``minhash_params``,
    ``bands`` bands of ``num_hashes // bands`` rows, connected components
    over the documents that share a band, and in each component the longest
    document kept (lowest id on ties)."""
    rows = num_hashes // bands
    params = minhash_params(num_hashes)
    parent = {d["doc_id"]: d["doc_id"] for d in docs}

    def find(x):
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    buckets: dict = {}
    for d in docs:
        toks = (d["text"] or "").split()
        if not toks:
            continue  # no shingles, no signature: never a candidate
        n = len(toks)
        shingles = {" ".join(toks[i:i + shingle_k])
                    for i in range(max(n - shingle_k + 1, 1))}
        hs = [int(hashlib.md5(x.encode()).hexdigest()[:15], 16) % 2**31
              for x in shingles]
        sig = [min((a * h + b) % (2**31 - 1) for h in hs) for a, b in params]
        for b in range(bands):
            key = (b, tuple(sig[b * rows:(b + 1) * rows]))
            buckets.setdefault(key, []).append(d["doc_id"])
    for ids in buckets.values():
        root = find(ids[0])
        for i in ids[1:]:
            parent[find(i)] = root
    best: dict = {}
    for d in docs:
        c = find(d["doc_id"])
        rank = (-len(d["text"] or ""), d["doc_id"])
        if c not in best or rank < best[c]:
            best[c] = rank
    return {d["doc_id"]: best[find(d["doc_id"])][1] == d["doc_id"] for d in docs}

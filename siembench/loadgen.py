"""Seeded workload generator for the SIEM benchmark.

It runs as its own process (``python3 siembench/loadgen.py SPEC.json``) and
hands the system under test nothing but files:

* Kafka-wire parquet files (``key, value, topic, partition, offset,
  timestamp, timestampType``) whose ``value`` is the Sysmon JSON payload and
  whose ``timestamp`` is the record's creation time;
* Sigma YAML rule packs;
* the document corpus of the batch workload.

Next to them it writes the answer key the oracle reads (``truth.parquet``:
every well-formed event with its creation and due-to-publish time), which
the system never sees.

Traffic dimensions (all in the spec): rate and burstiness, host skew (Zipf
exponent over a fixed host population), hit share and rule mix, and the
out-of-order, late and malformed shares.  The same spec and seed give the
same bytes.

Live mode is open loop: every record is generated before the clock starts,
then one parquet file per tick is published (write to a hidden name, then
rename) at ``t0 + tick * tick_s`` — the schedule never waits for the
consumer.  The publish log records how late each tick ran.
"""

from __future__ import annotations

import json
import os
import random
import sys
import time
import zlib

import pyarrow as pa
import pyarrow.parquet as pq

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
if ROOT not in sys.path:
    sys.path.insert(0, ROOT)

from dagger_spark.fixtures import RULE_TEMPLATES, generate_zipf_docs  # noqa: E402
from dagger_spark.rules.builtin import active_rules  # noqa: E402
from dagger_spark.schemas import EVENT_DATA_FIELDS  # noqa: E402

WIRE_SCHEMA = pa.schema(
    [
        pa.field("key", pa.binary()),
        pa.field("value", pa.binary()),
        pa.field("topic", pa.string()),
        pa.field("partition", pa.int32()),
        pa.field("offset", pa.int64()),
        pa.field("timestamp", pa.timestamp("us", tz="UTC")),
        pa.field("timestampType", pa.int32()),
    ]
)

TRUTH_SCHEMA = pa.schema(
    [
        pa.field("computer_name", pa.string()),
        pa.field("event_id", pa.int64()),
        pa.field("host", pa.string()),
        pa.field(
            "event_data",
            pa.struct([pa.field(f, pa.string()) for f in EVENT_DATA_FIELDS]),
        ),
        pa.field("uuid", pa.string()),
        pa.field("timestamp", pa.timestamp("us", tz="UTC")),
        pa.field("due_us", pa.int64()),
    ]
)

N_PARTITIONS = 4
# historical topics start here; live topics are stamped on the wall clock
BASE_US = 1_704_067_200_000_000  # 2024-01-01T00:00:00Z

# ---------------------------------------------------------------------------
# benign background traffic: none of these values satisfies a built-in or
# generated rule (the oracle, not this comment, is what the run trusts)
# ---------------------------------------------------------------------------
_APPS = ["notepad", "excel", "chrome", "teams", "outlook", "code", "slack",
         "onedrive", "java", "python", "git", "node", "zoom", "acrord32"]
_DIRS = ["C:\\Program Files\\{a}", "C:\\Users\\u{n}\\AppData\\Local\\{a}",
         "C:\\Program Files (x86)\\{a}\\bin"]
_ARGS = ["--update", "--sync {n}", "C:\\Users\\u{n}\\doc{n}.txt",
         "--profile p{n}", "/background", "--port {n}"]
_ACCESS = ["0x1000", "0x2000", "0x1400", "0x100000"]
_TRACE = ("C:\\Windows\\SYSTEM32\\ntdll.dll+9d4{n}"
          "|C:\\Windows\\System32\\KERNELBASE.dll+2c1{n}")


def _benign_image(rng: random.Random) -> str:
    a = rng.choice(_APPS)
    d = rng.choice(_DIRS).format(a=a, n=rng.randrange(500))
    return f"{d}\\{a}.exe"


def _benign_event(rng: random.Random) -> tuple:
    kind = rng.random()
    if kind < 0.6:
        img = _benign_image(rng)
        return 1, {
            "Image": img,
            "CommandLine": img.rsplit("\\", 1)[1] + " "
            + rng.choice(_ARGS).format(n=rng.randrange(10_000)),
            "ParentImage": _benign_image(rng),
            "IntegrityLevel": rng.choice(["Medium", "Low"]),
            "User": f"CORP\\u{rng.randrange(5000)}",
            "CurrentDirectory": f"C:\\Users\\u{rng.randrange(5000)}\\",
        }
    if kind < 0.85:
        return 10, {
            "SourceImage": _benign_image(rng),
            "TargetImage": _benign_image(rng),
            "GrantedAccess": rng.choice(_ACCESS),
            "CallTrace": _TRACE.format(n=rng.randrange(100)),
        }
    return 3, {
        "Image": _benign_image(rng),
        "ParentImage": _benign_image(rng),
        "DestinationIp": f"192.168.{rng.randrange(256)}.{rng.randrange(256)}",
        "DestinationPort": str(rng.choice([53, 123, 8443, 5222])),
        "Initiated": rng.choice(["true", "false"]),
    }


# ---------------------------------------------------------------------------
# rule packs (Sigma YAML)
# ---------------------------------------------------------------------------
MODIFIER_MIX = ("contains", "endswith", "startswith", "contains_all", "re",
                "windash", "cidr", "one_of")


def _tok(rid: int) -> str:
    return f"q{rid:04d}x"


def selective_rule(rid: int) -> tuple:
    """One selective Sigma rule (YAML text) and the event fields that
    satisfy it.  The modifier cycles through ``MODIFIER_MIX``; every
    rule carries a ``not filter`` clause so evaluation also runs negation."""
    kind = MODIFIER_MIX[rid % len(MODIFIER_MIX)]
    t = _tok(rid)
    category = "process_creation"
    if kind == "contains":
        sel = f"    CommandLine|contains: '-{t}'"
        plant = {"CommandLine": f"tool.exe -{t} --verbose"}
    elif kind == "endswith":
        sel = f"    Image|endswith: '\\{t}.exe'"
        plant = {"Image": f"C:\\Tools\\{t}.exe"}
    elif kind == "startswith":
        sel = f"    CommandLine|startswith: '{t} '"
        plant = {"CommandLine": f"{t} run now"}
    elif kind == "contains_all":
        sel = (f"    CommandLine|contains|all:\n      - '/{t}'\n"
               "      - '/install'")
        plant = {"CommandLine": f"setup.exe /{t} /install"}
    elif kind == "re":
        sel = f"    CommandLine|re: '{t}-[0-9]{{3}}'"
        plant = {"CommandLine": f"launch {t}-{rid % 1000:03d} done"}
    elif kind == "windash":
        sel = f"    CommandLine|windash|contains: '-{t}'"
        plant = {"CommandLine": f"util.exe /{t}"}
    elif kind == "cidr":
        category = "network_connection"
        a, b = divmod(rid, 256)
        sel = f"    DestinationIp|cidr: '10.{a}.{b}.0/24'"
        plant = {"DestinationIp": f"10.{a}.{b}.77", "Initiated": "true"}
    else:
        sel = (f"    ParentImage|endswith: '\\{t}.exe'\n"
               f"  sel_b:\n    CommandLine|contains: '{t}.dll'")
        plant = {"CommandLine": f"rundll32.exe {t}.dll,Start"}
    cond = "1 of sel* and not filter" if kind == "one_of" else "sel and not filter"
    head = "sel_a" if kind == "one_of" else "sel"
    text = (
        f"title: Synthetic {kind} {rid:04d}\n"
        f"id: synthetic-{rid:04d}\n"
        "author: siembench\n"
        f"level: {('low', 'medium', 'high', 'critical')[rid % 4]}\n"
        f"logsource:\n  category: {category}\n"
        "tags:\n  - attack.execution\n  - attack.t1059.001\n"
        f"detection:\n  {head}:\n{sel}\n"
        f"  filter:\n    Image|endswith: '\\benign{rid % 7}.exe'\n"
        f"  condition: {cond}\n"
    )
    event_id = 3 if category == "network_connection" else 1
    return text, (event_id, plant)


#: rules the compiler must refuse — a real pack always carries a few
REJECTED_RULES = (
    "title: Rejected count without timeframe\nlevel: high\n"
    "logsource:\n  category: process_creation\n"
    "detection:\n  sel:\n    Image|endswith: '\\x.exe'\n"
    "  condition: sel | count() > 5\n",
    "title: Rejected unknown modifier\nlevel: high\n"
    "logsource:\n  category: process_creation\n"
    "detection:\n  sel:\n    Image|rot13: 'x'\n  condition: sel\n",
    "title: Rejected unknown level\nlevel: urgent\n"
    "logsource:\n  category: process_creation\n"
    "detection:\n  sel:\n    Image|endswith: '\\y.exe'\n  condition: sel\n",
)


def timeframe_rule(title: str, needle: str, seconds: int, min_count: int) -> str:
    """A Sigma count rule: ``min_count`` matching events per host within
    ``seconds``."""
    return (
        f"title: {title}\nlevel: high\n"
        "logsource:\n  category: process_creation\n"
        "tags:\n  - attack.credential_access\n  - attack.t1110\n"
        f"detection:\n  sel:\n    CommandLine|contains: '{needle}'\n"
        f"  timeframe: {seconds}s\n"
        f"  condition: sel | count() >= {min_count}\n"
    )


def storm_rule(title: str, field: str, modifier: str, value: str) -> str:
    """A broad stateless rule: it matches a large share of storm traffic."""
    return (
        f"title: {title}\nlevel: medium\n"
        "logsource:\n  category: process_creation\n"
        "tags:\n  - attack.execution\n  - attack.t1059\n"
        f"detection:\n  sel:\n    {field}|{modifier}: '{value}'\n"
        "  condition: sel\n"
    )


#: alert_storm's broad stateless rules; ``storm_fields`` draws events that
#: carry one to three of them
STORM_FEATURES = (
    ("Storm PowerShell", "Image", "endswith", "\\powershell.exe"),
    ("Storm Encoded Command", "CommandLine", "contains", " -enc "),
    ("Storm Explorer Child", "ParentImage", "endswith", "\\explorer.exe"),
)


def write_pack(path: str, docs: list) -> None:
    os.makedirs(path, exist_ok=True)
    for i, text in enumerate(docs):
        with open(os.path.join(path, f"rule-{i:04d}.yml"), "w") as fh:
            fh.write(text)


def rule_pack(spec: dict) -> tuple:
    """(YAML docs, planters) for the workload's pack.  A planter is
    ``(weight, event_id, fields)``: an event that satisfies one rule."""
    kind = spec["pack"]
    docs, planters = [], []
    builtin_templates = [
        RULE_TEMPLATES[r.name] for r in active_rules() if r.name in RULE_TEMPLATES
    ]
    for t in builtin_templates:
        fields = {k: v for k, v in t.items() if k != "event_id"}
        planters.append((1.0, t["event_id"], fields))
    if kind == "retro_hunt":
        for rid in range(spec["n_rules"]):
            text, (eid, plant) = selective_rule(rid)
            docs.append(text)
            planters.append((1.0, eid, plant))
        docs.extend(REJECTED_RULES)
    elif kind == "live_tail":
        # one timeframe rule per pack: the stream path refuses a second
        # (Spark allows one applyInPandasWithState per streaming query)
        docs.append(timeframe_rule("Token Theft Burst", "token-dump", 10, 3))
    elif kind == "alert_storm":
        for title, field, mod, value in STORM_FEATURES:
            docs.append(storm_rule(title, field, mod, value))
        docs.append(timeframe_rule("Storm Burst Sliding", "-enc", 10, 15))
    return docs, planters


# ---------------------------------------------------------------------------
# events
# ---------------------------------------------------------------------------
class EventPool:
    """Distinct ``event_data`` payloads, each serialised once.  Events
    reference a payload by index, so generating a record costs a few random
    draws and one string join, and the oracle's table is a ``take``."""

    def __init__(self):
        self.event_ids: list = []
        self.datas: list = []
        self.jsons: list = []

    def add(self, event_id: int, data: dict) -> int:
        self.event_ids.append(event_id)
        self.datas.append(data)
        self.jsons.append(json.dumps(data, separators=(",", ":")))
        return len(self.datas) - 1

    def struct(self) -> pa.StructArray:
        return pa.StructArray.from_arrays(
            [pa.array([d.get(f) for d in self.datas], pa.string())
             for f in EVENT_DATA_FIELDS],
            fields=list(TRUTH_SCHEMA.field("event_data").type),
        )


class EventFactory:
    """Draws events: benign background, planted hits, storm traffic and
    Zipf-skewed hosts.  An event is ``(uuid, host, pool index)``."""

    N_BENIGN = 8192
    N_STORM = 2048

    def __init__(self, rng: random.Random, spec: dict, planters: list):
        self.rng = rng
        self.spec = spec
        self.pool = EventPool()
        n_hosts = spec["n_hosts"]
        self.hosts = [f"ws-{h:04d}" for h in range(n_hosts)]
        self.host_cum = _cumulative(1.0 / (k + 1) ** spec["host_skew"]
                                    for k in range(n_hosts))
        self.benign = [self.pool.add(*_benign_event(rng)) for _ in range(self.N_BENIGN)]
        self.storm = ([self.pool.add(1, storm_fields(rng)) for _ in range(self.N_STORM)]
                      if spec.get("storm_share") else [])
        self.hits = [self.pool.add(eid, fields) for _w, eid, fields in planters]
        self.hit_cum = _cumulative(w for w, _e, _f in planters)
        self.storm_share = spec.get("storm_share", 0.0)
        self.hit_share = spec["hit_share"]

    def host(self) -> str:
        return self.rng.choices(self.hosts, cum_weights=self.host_cum)[0]

    def event(self, uuid: str) -> tuple:
        rng = self.rng
        r = rng.random()
        if r < self.storm_share:
            idx = self.storm[rng.randrange(len(self.storm))]
        elif r < self.storm_share + self.hit_share and self.hits:
            idx = rng.choices(self.hits, cum_weights=self.hit_cum)[0]
        else:
            idx = self.benign[rng.randrange(len(self.benign))]
        return uuid, self.host(), idx

    def burst(self, uuid_of, needle: str, size: int) -> list:
        """``size`` events on one host carrying ``needle`` — a timeframe
        burst."""
        host = self.host()
        return [
            (uuid_of(), host, self.pool.add(1, {
                "Image": "C:\\Windows\\System32\\net.exe",
                "CommandLine": f"net.exe use \\\\dc01 /user:{needle}-{self.rng.randrange(99)}",
            }))
            for _ in range(size)
        ]


def _cumulative(weights) -> list:
    out, acc = [], 0.0
    for w in weights:
        acc += w
        out.append(acc)
    return out


def storm_fields(rng: random.Random) -> dict:
    """One to three of the broad storm features on one process event."""
    feats = set(rng.sample(range(3), rng.choice((1, 1, 2, 3))))
    if 0 in feats:
        image = "C:\\Windows\\System32\\WindowsPowerShell\\v1.0\\powershell.exe"
        cmd = f"powershell.exe -nop -w hidden -f s{rng.randrange(100)}.ps1"
    else:
        image = "C:\\Windows\\System32\\cmd.exe"
        cmd = f"cmd.exe /c job{rng.randrange(1000)}"
    if 1 in feats:
        cmd += " -enc SQBFAFgA"
    parent = ("C:\\Windows\\explorer.exe" if 2 in feats
              else "C:\\Windows\\System32\\services.exe")
    return {"Image": image, "CommandLine": cmd, "ParentImage": parent}


def tick_sizes(rng: random.Random, rate: float, seconds: float, tick_s: float,
               burstiness: float) -> list:
    """Records per tick at mean ``rate``: gamma-distributed tick weights
    (shape 1/burstiness**2, so burstiness is the coefficient of variation)
    rescaled to the phase's exact total."""
    n_ticks = max(1, int(round(seconds / tick_s)))
    total = int(round(rate * seconds))
    if burstiness <= 0:
        w = [1.0] * n_ticks
    else:
        shape = 1.0 / burstiness ** 2
        w = [rng.gammavariate(shape, 1.0 / shape) for _ in range(n_ticks)]
    s = sum(w)
    sizes = [int(total * x / s) for x in w]
    for i in range(total - sum(sizes)):
        sizes[i % n_ticks] += 1
    return sizes


MALFORMED = b'{"computer_name":"WS-TRUNC","event_id":1,"event_data":{"Image":"C:\\\\x'


def build_ticks(spec: dict, rng: random.Random, factory: EventFactory,
                first_uuid: int = 0) -> list:
    """The record stream as ticks; a tick is a list of records
    ``(uuid, host, pool index, malformed, create_rel_us, due_rel_us)`` with
    times relative to the stream start.  Out-of-order records are created
    0.5-3 s before their tick, late ones 8-12 s before (past the 5 s
    watermark)."""
    tick_s = spec["tick_s"]
    tick_us = int(tick_s * 1e6)
    seq = [first_uuid]
    tag = f"ev-{spec['seed']:x}-"

    def uuid_of() -> str:
        seq[0] += 1
        return f"{tag}{seq[0]:08d}"

    late, ooo, bad = spec["late_share"], spec["ooo_share"], spec["malformed_share"]
    needles = spec.get("burst_needles") or []
    ticks = []
    t_idx = 0
    for phase in spec["phases"]:
        if "records" in phase:
            # a surge: the phase's ticks stay empty but the last, which
            # publishes ``records`` at once as one file
            sizes = [0] * (max(1, int(round(phase["seconds"] / tick_s))) - 1)
            sizes.append(phase["records"])
        else:
            sizes = tick_sizes(rng, phase["rate"], phase["seconds"], tick_s,
                               spec["burstiness"])
        for size in sizes:
            due = t_idx * tick_us
            evs = [factory.event(uuid_of()) for _ in range(size)]
            if needles and size and rng.random() < spec["burst_prob"]:
                evs.extend(factory.burst(uuid_of, rng.choice(needles),
                                         rng.randint(5, 7)))
            recs = []
            for uuid, host, idx in evs:
                create = due - int(rng.random() * tick_us)
                r = rng.random()
                if r < late:
                    create -= int(rng.uniform(8.0, 12.0) * 1e6)
                elif r < late + ooo:
                    create -= int(rng.uniform(0.5, 3.0) * 1e6)
                recs.append((uuid, host, idx, rng.random() < bad, create, due))
            if spec.get("shuffle_in_tick"):
                rng.shuffle(recs)
            ticks.append(recs)
            t_idx += 1
    if spec.get("flush_s"):
        # end of a historical range: one benign record far ahead in event
        # time moves the watermark past every open window
        uuid, host, idx = factory.event(uuid_of())
        idx = factory.benign[0]
        ticks[-1].append((uuid, host, idx, False,
                          t_idx * tick_us + int(spec["flush_s"] * 1e6), t_idx * tick_us))
    return ticks


def wire_table(recs: list, pool: EventPool, t0_us: int, offsets: list,
               topic: str) -> pa.Table:
    values, parts, offs, ts, keys = [], [], [], [], []
    jsons, eids = pool.jsons, pool.event_ids
    for uuid, host, idx, malformed, create, due in recs:
        if malformed:
            values.append(MALFORMED)
        else:
            up = host.upper()
            values.append(
                f'{{"computer_name":"{up}","event_id":{eids[idx]},"host":"{host}",'
                f'"event_data":{jsons[idx]},"uuid":"{uuid}"}}'.encode()
            )
        p = int(host[-2:]) % N_PARTITIONS
        parts.append(p)
        offs.append(offsets[p])
        offsets[p] += 1
        ts.append(t0_us + create)
        keys.append(b"%d" % (t0_us + due))  # due-to-publish time, µs
    n = len(recs)
    return pa.Table.from_arrays(
        [
            pa.array(keys, pa.binary()),
            pa.array(values, pa.binary()),
            pa.array([topic] * n, pa.string()),
            pa.array(parts, pa.int32()),
            pa.array(offs, pa.int64()),
            pa.array(ts, pa.timestamp("us", tz="UTC")),
            pa.array([0] * n, pa.int32()),
        ],
        schema=WIRE_SCHEMA,
    )


def truth_table(ticks: list, pool: EventPool, t0_us: int) -> pa.Table:
    """Every well-formed record as a typed event row (the oracle's input)."""
    rows = [r for recs in ticks for r in recs if not r[3]]
    idx = pa.array([r[2] for r in rows], pa.int64())
    hosts = [r[1] for r in rows]
    return pa.Table.from_arrays(
        [
            pa.array([h.upper() for h in hosts], pa.string()),
            pa.array(pool.event_ids, pa.int64()).take(idx),
            pa.array(hosts, pa.string()),
            pool.struct().take(idx),
            pa.array([r[0] for r in rows], pa.string()),
            pa.array([t0_us + r[4] for r in rows], pa.timestamp("us", tz="UTC")),
            pa.array([t0_us + r[5] for r in rows], pa.int64()),
        ],
        schema=TRUTH_SCHEMA,
    )


def write_topic(path: str, ticks: list, pool: EventPool, t0_us: int, files: int,
                topic: str) -> int:
    """Backlog: all ticks written up front as ``files`` parquet files in
    stream order (file k's records all precede file k+1's)."""
    os.makedirs(path, exist_ok=True)
    offsets = [0] * N_PARTITIONS
    per = max(1, -(-len(ticks) // files))
    n = 0
    for f in range(0, len(ticks), per):
        recs = [r for t in ticks[f:f + per] for r in t]
        pq.write_table(wire_table(recs, pool, t0_us, offsets, topic),
                       os.path.join(path, f"part-{f // per:05d}.parquet"))
        n += len(recs)
    return n


def publish_live(spec: dict, ticks: list, pool: EventPool, work: str) -> None:
    """Open-loop publisher: tick k becomes visible at ``t0 + k*tick_s``
    regardless of how far the consumer is behind."""
    topic_dir = os.path.join(work, "live_topic")
    os.makedirs(topic_dir, exist_ok=True)
    go = os.path.join(work, "go")
    with open(os.path.join(work, "ready.tmp"), "w") as fh:
        fh.write("ready")
    os.replace(os.path.join(work, "ready.tmp"), os.path.join(work, "ready"))
    deadline = time.time() + 170
    while not os.path.exists(go):
        if time.time() > deadline:
            raise SystemExit("loadgen: no start signal")
        time.sleep(0.002)
    with open(go) as fh:
        t0 = float(fh.read())
    t0_us = int(t0 * 1e6)
    tick_s = spec["tick_s"]
    offsets = [0] * N_PARTITIONS
    log = []
    for k, recs in enumerate(ticks):
        due = t0 + k * tick_s
        delay = due - time.time()
        if delay > 0:
            time.sleep(delay)
        # a tick of more than ``file_records`` records is split into files,
        # all written before any becomes visible
        per = spec.get("file_records") or len(recs) or 1
        staged = []
        for j in range(0, len(recs), per):
            name = f"tick-{k:05d}-{j // per:02d}.parquet"
            pq.write_table(wire_table(recs[j:j + per], pool, t0_us, offsets, "events"),
                           os.path.join(topic_dir, f".{name}.tmp"))
            staged.append(name)
        for name in staged:
            os.replace(os.path.join(topic_dir, f".{name}.tmp"), os.path.join(topic_dir, name))
        log.append([k, due, time.time(), len(recs)])
    pq.write_table(truth_table(ticks, pool, t0_us), os.path.join(work, "truth.parquet"))
    with open(os.path.join(work, "publish_log.json"), "w") as fh:
        json.dump({"t0": t0, "ticks": log}, fh)


def make_corpus(spec: dict, work: str) -> None:
    docs = generate_zipf_docs(
        n_docs=spec["n_docs"], n_neardup=spec["n_neardup"],
        vocab_size=spec["vocab_size"], doc_len=spec["doc_len"],
        seed=spec["seed"],
    )
    schema = pa.schema([pa.field("doc_id", pa.int64()), pa.field("text", pa.string())])
    pq.write_table(pa.Table.from_pylist(docs, schema=schema),
                   os.path.join(work, "corpus.parquet"))
    rng = random.Random(spec["seed"] + 1)
    # the decontamination eval set: verbatim passages of a few corpus docs
    bench = [
        {"doc_id": 10_000_000 + i, "text": docs[j]["text"]}
        for i, j in enumerate(rng.sample(range(spec["n_docs"] - spec["n_neardup"]),
                                         spec["n_bench"]))
    ]
    pq.write_table(pa.Table.from_pylist(bench, schema=schema),
                   os.path.join(work, "bench.parquet"))


def generate(spec: dict) -> None:
    work = spec["work"]
    os.makedirs(work, exist_ok=True)
    if spec["kind"] == "corpus":
        make_corpus(spec, work)
        return
    rng = random.Random(spec["seed"])
    docs, planters = rule_pack(spec)
    write_pack(os.path.join(work, "pack"), docs)
    factory = EventFactory(rng, spec, planters)
    warm_ticks = build_ticks(dict(spec, phases=spec["warm_phases"]), rng, factory,
                             first_uuid=90_000_000)
    write_topic(os.path.join(work, "warm_topic"), warm_ticks, factory.pool, BASE_US,
                spec["warm_files"], "events")
    ticks = build_ticks(spec, rng, factory)
    if spec["kind"] == "live":
        publish_live(spec, ticks, factory.pool, work)
        return
    write_topic(os.path.join(work, "topic"), ticks, factory.pool, BASE_US,
                spec["files"], "events")
    pq.write_table(truth_table(ticks, factory.pool, BASE_US),
                   os.path.join(work, "truth.parquet"))

if __name__ == "__main__":
    with open(sys.argv[1]) as fh:
        generate(json.load(fh))
